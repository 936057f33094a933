"""References the benchmark checks outputs against; no `imc` operator
computes them.

The repository keeps an independent DuckDB twin of every operator the
benchmark runs (`__spark_entry__.oracle_sql()`), written against the
repository's fixture files. `twin_sql` points those twins at the
benchmark's own files instead: the pages, the twins' own segments, the
DBSCAN assignments of `fixtures/oracle.py`, the IVF centroids trained
here and the tiles derived from the run's polygons. ε-pairs and DBSCAN
come from `fixtures/oracle.py`'s exhaustive driver-side loops (their
DuckDB twins take ~11 s each). `frames_match` compares a result with its
reference regardless of row and column order.
"""

from __future__ import annotations

import os
from unittest import mock

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from fixtures import oracle
from imc import similarity

# the IVF index parameters __spark_entry__'s ann_topk_ivf query uses; the
# twin's SQL hard-codes probe_mod 50, n_probe 4 and k 5
IVF_LISTS, IVF_ITERS, IVF_PROBE, TOP_K, PROBE_MOD = 16, 8, 4, 5, 50


def twin_sql(pages: str = "", segs: str = "", assignments: str = "",
             centroids: list | None = None,
             tiles: pd.DataFrame | None = None) -> dict[str, str]:
    """`__spark_entry__.oracle_sql()` over the given files: pages and
    segments parquet paths, an assignments parquet path, IVF centroids
    and tiles(tile_id, venue, ring). Nothing is read while the SQL is
    built."""
    import __spark_entry__ as entry

    with mock.patch.multiple(
            entry, _fixture_paths=lambda: (pages, segs),
            _assignments_glob=lambda: assignments,
            _ivf_seeds_sql=lambda: _values_sql(centroids or [[0.0]]),
            _pq_cb_sql=lambda: "SELECT 1",
            _tile_edges_values=lambda: _tile_edges(tiles)):
        return entry.oracle_sql()


def _values_sql(cent: list) -> str:
    """Centroids as the twin's (list_id, c_emb) VALUES literal."""
    rows = ", ".join(
        f"({i}::BIGINT, [{', '.join(repr(float(x)) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cent))
    return f"SELECT * FROM (VALUES {rows}) AS t(list_id, c_emb)"


def _tile_edges(tiles: pd.DataFrame | None) -> str:
    """Tile rings as the twin's VALUES list of directed edges (tile_id,
    venue, ex1, ey1, ex2, ey2), closing edge included. No tiles gives
    one edge no segment can cross."""
    rows = []
    for t in ([] if tiles is None else tiles.itertuples()):
        ring = [(p["x"], p["y"]) for p in t.ring]
        for i in range(len(ring)):
            (x1, y1), (x2, y2) = ring[i], ring[(i + 1) % len(ring)]
            rows.append(f"({int(t.tile_id)}, {int(t.venue)}, "
                        f"{x1!r}, {y1!r}, {x2!r}, {y2!r})")
    return ", ".join(rows) or "(-2, -1, 0.0, 0.0, 0.0, 0.0)"


def traclus(pages: str, ref_dir: str) -> dict[str, pd.DataFrame]:
    """Reference frames for every stage of pipeline.run over `pages`,
    except tile_assignments (its tiles come from the run's polygons; see
    tile_assignments). Leaves the reference segments and assignments as
    parquet files under ref_dir."""
    from imc.config import IMCParams

    params = IMCParams()
    os.makedirs(ref_dir, exist_ok=True)
    segs_path = os.path.join(ref_dir, "segments.parquet")
    asn_path = os.path.join(ref_dir, "assignments.parquet")
    sql = twin_sql(pages, segs_path, asn_path)
    ref: dict[str, pd.DataFrame] = {}
    with duckdb.connect() as con:
        ref["points"] = con.sql(sql["imc_points"]).df()
        ref["segments"] = con.sql(sql["imc_segments"]).df()
        ref["segments"].to_parquet(segs_path, index=False)
        seg_ids = ref["segments"]["seg_id"].to_numpy()
        xy = ref["segments"][["x1", "y1", "x2", "y2"]].to_numpy(np.float64)
        pairs = oracle.eps_pairs_oracle(seg_ids, xy, params.eps)
        ref["eps_pairs"] = pairs.assign(dist=pairs["dist"].round(6))
        ref["assignments"] = oracle.dbscan_oracle(
            seg_ids, ref["segments"]["traj_id"].to_numpy(), xy, params.eps,
            params.min_lns)
        ref["assignments"].to_parquet(asn_path, index=False)
        for stage in ("rep_points", "corridors", "raster", "polygons"):
            ref[stage] = con.sql(sql[f"imc_{stage}"]).df()
    return ref


def tile_assignments(segs_path: str, tiles: pd.DataFrame) -> pd.DataFrame:
    """Point-in-polygon of each reference segment's midpoint against
    `tiles` (the twin's ray-crossing rule; lowest tile id wins, -1 for
    none)."""
    with duckdb.connect() as con:
        return con.sql(twin_sql(segs=segs_path, tiles=tiles)
                       ["imc_tile_assignments"]).df()


def embeddings_sorted(path: str) -> np.ndarray:
    """The embeddings file's vectors in ascending vec_id order, read
    with pyarrow (the IVF training sample at this size: every row)."""
    t = pq.read_table(path, columns=["vec_id", "embedding"]).to_pandas()
    t = t.sort_values("vec_id", kind="stable")
    return np.asarray([list(e) for e in t["embedding"]], dtype=np.float64)


def corpus(docs: str, emb: str) -> dict:
    """Reference outputs for corpus_curate: the DuckDB twins of
    dedup_clusters and ann_topk_ivf and the IVF centroids they use."""
    cent = similarity.train_ivf_centroids(embeddings_sorted(emb), IVF_LISTS,
                                          IVF_ITERS)
    sql = twin_sql(centroids=cent.tolist())
    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{docs}')")
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                    f"read_parquet('{emb}')")
        return {"centroids": cent,
                "dedup_clusters": con.sql(sql["dedup_clusters"]).df(),
                "ann_topk_ivf": con.sql(sql["ann_topk_ivf"]).df()}


def frames_match(got: pd.DataFrame, want: pd.DataFrame,
                 atol: float = 1.5e-6) -> bool:
    """Same columns and the same rows in any order; floats equal within
    atol (both sides round them to 6 decimals, which may land one unit
    apart when the engines' last bits differ)."""
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    got, want = _norm(got), _norm(want)
    for c in got.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if np.issubdtype(a.dtype, np.floating):
            if not np.allclose(a, b.astype(np.float64), rtol=0, atol=atol):
                return False
        elif not (a == b).all():
            return False
    return True


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, integers as int64, floats rounded to 6
    decimals, rows sorted."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if np.issubdtype(df[c].dtype, np.integer):
            df[c] = df[c].astype("int64")
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].astype("float64").round(6)
    return df.sort_values(list(df.columns)).reset_index(drop=True)
