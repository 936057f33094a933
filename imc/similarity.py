"""Embedding similarity search over `embeddings(vec_id, embedding, label)`.

Brute-force cosine top-k is the correctness baseline: probes are broadcast
and scored with a numpy matmul inside mapInPandas (Arrow batches, one pass
over the base table, no shuffle until the per-probe top-k aggregation).
The scale path is sign-bucket LSH: an 8-bit hyperoctant key turns the
all-pairs problem into an equi-join — the same prefilter-then-refine shape
as the spatial ε-join (SURVEY.md §2.4).

Dot products are accumulated in float64 in ascending dimension order and
scores rounded to 6 decimals so the DuckDB oracle (explicit unnest-sum SQL
in __spark_entry__) reproduces values bitwise.

The per-row scoring stages (higher-order-function cosines × n_lists, LSH
projections, PQ codes) go through partitioning.fan_out keyed by vec_id: a
small embeddings parquet packs into one scan split and would run them on
one core.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from imc import graph
from imc.manifest import local_path, write_json_atomic
from imc.partitioning import fan_out, sharded_top_k
from imc.partitioning import salt as salt_sides

def _cos_expr(x, y):
    """Exact cosine as JVM array expressions, fixed dimension order, with
    the shared 1e-300 zero-norm guard — the ONE definition every LSH
    refine uses (the DuckDB oracles must match it at round 6)."""
    dot = F.aggregate(F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
                      F.lit(0.0), lambda acc, v: acc + v)
    nx = F.sqrt(F.aggregate(F.transform(x, lambda p: p.cast("double") * p.cast("double")),
                            F.lit(0.0), lambda acc, v: acc + v))
    ny = F.sqrt(F.aggregate(F.transform(y, lambda p: p.cast("double") * p.cast("double")),
                            F.lit(0.0), lambda acc, v: acc + v))
    return dot / F.greatest(nx * ny, F.lit(1e-300))


_TOPK_SCHEMA = T.StructType([
    T.StructField("query_id", T.LongType()),
    T.StructField("neighbor_id", T.LongType()),
    T.StructField("score", T.DoubleType()),
])


def _score_block(q_ids, q_mat, q_norm, b_ids, b_mat, k):
    b_norm = np.sqrt((b_mat * b_mat).sum(axis=1))
    denom = np.maximum(np.outer(q_norm, b_norm), 1e-300)
    scores = (q_mat @ b_mat.T) / denom
    rows = []
    for qi in range(len(q_ids)):
        s = scores[qi]
        mask = b_ids != q_ids[qi]
        ids = b_ids[mask]
        sv = s[mask]
        if len(ids) == 0:
            continue
        # partial top-(k+8) within the block (slack so rounded-score ties at
        # the k boundary can't be lost before the final window top-k)
        take = min(k + 8, len(ids))
        part = np.argpartition(-sv, take - 1)[:take]
        for j in part:
            rows.append((int(q_ids[qi]), int(ids[j]), float(sv[j])))
    return rows


def ann_topk_bruteforce(embeddings: DataFrame, k: int = 5,
                        probe_mod: int = 50,
                        max_probes: int = 250_000) -> DataFrame:
    """Exact cosine top-k for probe vectors (vec_id % probe_mod == 0)
    against the full table. Returns (query_id, neighbor_id, score, rank).

    Probes are collected (a small, bounded set) and broadcast inside a
    mapInPandas closure; each base partition computes a partial top-k, the
    final top-k is a window over k×n_partitions rows per probe.

    The probe-set smallness contract is ENGINE-OWNED (VERDICT r06 #3):
    probes grow as n/probe_mod with the corpus, and silently collecting
    an unbounded set is a driver-memory cliff followed by a worse
    per-task closure-replication cliff. More than `max_probes` collected
    probes raises loudly — callers with a genuinely larger probe set
    should batch probe ranges and union the per-batch top-k.
    """
    probes = (embeddings.filter(F.col("vec_id") % probe_mod == 0)
              .select("vec_id", "embedding").toPandas())
    if len(probes) > max_probes:
        raise ValueError(
            f"ann_topk_bruteforce collected {len(probes)} probes "
            f"(> max_probes={max_probes}); the probe set grows as "
            f"n/probe_mod — batch probe ranges (union the per-batch "
            f"top-k) or raise max_probes deliberately")
    q_ids = probes["vec_id"].to_numpy(np.int64)
    q_mat = np.stack([np.asarray(v, dtype=np.float64) for v in probes["embedding"]])
    q_norm = np.sqrt((q_mat * q_mat).sum(axis=1))

    def scan(batches):
        for pdf in batches:
            b_ids = pdf["vec_id"].to_numpy(np.int64)
            b_mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            rows = _score_block(q_ids, q_mat, q_norm, b_ids, b_mat, k)
            if rows:
                yield pd.DataFrame(rows, columns=["query_id", "neighbor_id", "score"])

    # deliberately NOT fanned out (partitioning.fan_out): the per-batch
    # work is one vectorized numpy matmul — fast on few cores — and every
    # extra partition emits its own k+8 partial rows per probe into the
    # final window (measured: fanning out tripled this query's time)
    partial = embeddings.select("vec_id", "embedding") \
        .mapInPandas(scan, _TOPK_SCHEMA)
    # rank on the ROUNDED score with a neighbor_id tie-break: selection is
    # then insensitive to last-ulp summation-order differences, so the
    # DuckDB oracle reproduces rows exactly
    w = Window.partitionBy("query_id").orderBy(F.desc("r_score"), F.asc("neighbor_id"))
    return (partial
            .withColumn("r_score", F.round("score", 6))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", F.col("r_score").alias("score"), "rank"))


def _sign_bucket_expr(bits: int = 8):
    """The hyperoctant LSH key as a bare expression over `embedding` —
    shared by sign_bucket and ann_topk_lsh (which carries it inline so
    no attach join is needed)."""
    b = None
    for i in range(bits):
        bit = F.coalesce((F.try_element_at("embedding", F.lit(i + 1)) > 0).cast("long"),
                         F.lit(0)) * F.lit(1 << i)
        b = bit if b is None else b + bit
    return b


def sign_bucket(embeddings: DataFrame, bits: int = 8) -> DataFrame:
    """(vec_id, bucket) — hyperoctant LSH key from the signs of the first
    `bits` dimensions (deterministic, SQL-expressible). NULL elements and
    embeddings shorter than `bits` dims map to bucket bit 0 (coalesce), the
    same semantics as the DuckDB oracle's CASE ... ELSE 0 — no row is ever
    silently dropped from the LSH join."""
    return embeddings.select("vec_id", _sign_bucket_expr(bits).alias("bucket"))


def lsh_planes(bits: int, tables: int, dim_pool: int = 64,
               terms: int = 4) -> list[list[list[tuple[int, float]]]]:
    """Deterministic sparse random hyperplanes for multi-table sign LSH:
    planes[t][j] = [(dim, ±1.0) × terms]. Seeded per (table, bit) so the
    Spark expressions and the DuckDB oracle share the exact constants."""
    out = []
    for t in range(tables):
        tbl = []
        for j in range(bits):
            rng = np.random.default_rng([913, t, j])
            dims = rng.choice(dim_pool, size=terms, replace=False)
            signs = rng.choice([-1.0, 1.0], size=terms)
            tbl.append([(int(d), float(s)) for d, s in zip(dims, signs)])
        out.append(tbl)
    return out


def multi_bucket(embeddings: DataFrame, bits: int = 16,
                 tables: int = 2) -> DataFrame:
    """(vec_id, tbl, bucket) — one bucket key per LSH table. Bit j of table
    t is the sign of a sparse ±1 projection over 4 dims (codegen-friendly:
    try_element_at + arithmetic, no higher-order functions). Missing/NULL
    dims contribute 0, matching the oracle's CASE ELSE 0."""
    return _with_multi_bucket(embeddings, bits, tables).select(
        "vec_id", "tbl", "bucket")


def _with_multi_bucket(embeddings: DataFrame, bits: int,
                       tables: int) -> DataFrame:
    """embeddings exploded to one row per (vec_id, tbl, bucket), every
    other input column carried along — ONE pass, no attach join. The
    pre-r7 shape unioned `tables` SELECTs of the same table (the scan
    and any upstream plan embedded once per table per consumer join
    side — r7 plan audit) and consumers re-joined embeddings onto the
    bucket table by vec_id; carrying the columns through the explode
    removes both."""
    planes = lsh_planes(bits, tables)
    # the key expressions are built as ONE SQL string parsed in a single
    # F.expr call: composing the ~tables×bits×terms Column tree through
    # Py4J cost ~1 s of driver time PER QUERY CONSTRUCTION (r7 profile)
    # while the parsed expression is identical — same try_element_at /
    # coalesce / cast arithmetic in the same order, literals emitted via
    # repr so the doubles round-trip exactly
    structs = []
    for t in range(tables):
        bit_terms = []
        for j in range(bits):
            proj = " + ".join(
                f"(coalesce(CAST(try_element_at(embedding, {d + 1}) "
                f"AS DOUBLE), 0.0D) * {c!r}D)"
                for d, c in planes[t][j])
            bit_terms.append(
                f"(CAST(({proj}) > 0 AS BIGINT) * {1 << j}L)")
        key = " + ".join(bit_terms)
        structs.append(f"named_struct('tbl', {t}, 'bucket', ({key}))")
    gen = f"explode(array({', '.join(structs)}))"
    return (fan_out(embeddings, "vec_id")
            .withColumn("_tb", F.expr(gen))
            .withColumn("tbl", F.col("_tb.tbl"))
            .withColumn("bucket", F.col("_tb.bucket"))
            .drop("_tb"))


def ann_topk_lsh_multi(embeddings: DataFrame, k: int = 5, probe_mod: int = 50,
                       bits: int = 16, tables: int = 2) -> DataFrame:
    """Approximate top-k via MULTI-TABLE sign LSH — the 100 TB scale path
    (VERDICT r01: a single 8-bit table degenerates to O(n/256) candidates
    per bucket; 16-24 bits/table shrinks buckets geometrically while extra
    tables recover recall). Candidates = union over tables of bucket
    matches (equi-join per table), deduped, exact cosine refine, window
    top-k. Shuffles are keyed by (tbl, bucket) — never all-pairs."""
    # r7 shuffle-byte discipline (guide §2.3, VERDICT r06 #4): the
    # exact cosine is computed in the SAME map stage as the bucket-join
    # output, so the (query_id, neighbor_id) dedup exchange — and the
    # top-k window exchange after it — carry (ids, score) ≈ 24 bytes a
    # row instead of 2×d doubles. A pair surfacing in several tables
    # scores once per table (map-side CPU, identical value each time —
    # the expression is deterministic), which is the guide's trade:
    # redundant vectorizable compute for an order-of-magnitude fewer
    # shuffle bytes. The bucket keys also ride the corpus scan directly
    # (_with_multi_bucket) — the pre-r7 vec_id attach join is gone, so
    # the whole query is 2 scan-side exchanges + dedup + window.
    with_b = _with_multi_bucket(
        embeddings.select("vec_id", "embedding"), bits, tables)
    a = (with_b.filter(F.col("vec_id") % probe_mod == 0)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("q_emb"), "tbl", "bucket"))
    b = with_b.select(F.col("vec_id").alias("neighbor_id"),
                      F.col("embedding").alias("b_emb"), "tbl", "bucket")
    cand = (a.join(b, ["tbl", "bucket"])
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .withColumn("score",
                        F.round(_cos_expr(F.col("q_emb"), F.col("b_emb")), 6))
            .select("query_id", "neighbor_id", "score")
            .dropDuplicates(["query_id", "neighbor_id"]))

    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (cand
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "score", "rank"))


def train_ivf_centroids(vecs: np.ndarray, n_lists: int = 16,
                        iters: int = 8) -> np.ndarray:
    """Deterministic k-means coarse quantizer for the IVF index (VERDICT
    r03: first-n-ids seeding is pathological when early ids are
    unrepresentative, e.g. an id-ordered crawl of one domain).

    vecs: (n, d) float64 rows in ASCENDING vec_id order (the caller
    sorts). Every step is deterministic AND process-independent so the
    resulting centroids can be shared as literals between the Spark
    expressions and the DuckDB oracle:
      - init: evenly STRIDED rows over the id-sorted table — covers the
        id range whatever the id↔cluster correlation (the failure mode
        first-n seeding has);
      - assignment: cosine argmax computed per-centroid with elementwise
        multiply + np.sum (pairwise summation, fixed order) — NO BLAS
        GEMM, whose thread-count-dependent reduction order would make
        centroid bits vary between the query process and the oracle
        process;
      - update: np.mean over the assigned rows in id order; an emptied
        list keeps its previous centroid;
      - ties: argmax takes the first (lowest list id).
    """
    vecs = np.asarray(vecs, dtype=np.float64)
    n = len(vecs)
    n_lists = min(n_lists, n)
    idx = np.unique(np.round(np.linspace(0, n - 1, n_lists)).astype(np.int64))
    cent = vecs[idx].copy()
    vn = vecs / np.maximum(
        np.sqrt((vecs * vecs).sum(axis=1, keepdims=True)), 1e-300)
    for _ in range(iters):
        cn = cent / np.maximum(
            np.sqrt((cent * cent).sum(axis=1, keepdims=True)), 1e-300)
        sims = np.stack([np.sum(vn * cn[j], axis=1)
                         for j in range(len(cent))], axis=1)
        assign = sims.argmax(axis=1)
        for j in range(len(cent)):
            members = vecs[assign == j]
            if len(members):
                cent[j] = members.mean(axis=0)
    return cent


IVF_MANIFEST = "_ivf_index.json"


def _index_fingerprint(embeddings: DataFrame, tag: str,
                       *params) -> str | None:
    """Content identity of a trained index (tag "ivf" or "pq"):
    canonicalized logical plan + input file listing + sizes + mtimes +
    the tag and training params (the same resume rule
    pipeline._input_fingerprint uses — the plan hash matters here too:
    without it a FILTERED view over the same parquet files would reuse
    an index trained on the full table). None — no stable identity ⟹
    retrain per call — for in-memory inputs AND for any file os.stat
    can't reach (hashing bare names for remote hdfs://s3a:// paths
    would serve a STALE index after an in-place rewrite under the same
    object names; for an index, retraining is the safe failure)."""
    import hashlib
    import os as _os
    files = sorted(embeddings.inputFiles())
    if not files:
        return None
    h = hashlib.sha256("|".join([tag, *map(str, params)]).encode())
    plan = (embeddings._jdf.queryExecution().logical()
            .canonicalized().toString())
    h.update(f"plan|{plan}".encode())
    for f in files:
        try:
            st = _os.stat(local_path(f) or f)
        except OSError:
            return None
        h.update(f"{f}|{st.st_size}|{st.st_mtime_ns}".encode())
    return h.hexdigest()[:24]


def _training_sample(embeddings: DataFrame, sample_n: int) -> np.ndarray:
    """The embeddings of ~sample_n rows as a float64 matrix, in ascending
    vec_id order: the rows whose md5-bucket of vec_id is 0 mod K, K
    sized from the row count (ivf_index's docstring has the rule)."""
    n = embeddings.count()
    k_mod = max(1, -(-n // sample_n))
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8),
               16, 10).cast("long"), F.lit(k_mod))
    rows = (embeddings.filter(bucket == 0)
            .select("vec_id", "embedding").orderBy("vec_id").collect())
    return np.asarray([list(r["embedding"]) for r in rows], dtype=np.float64)


def ivf_index(embeddings: DataFrame, index_dir: str, n_lists: int = 16,
              iters: int = 8, sample_n: int = 100_000) -> list:
    """Train-or-load the IVF coarse quantizer as a PERSISTED index
    artifact: the wired operator around train_ivf_centroids.

    Training sample: a DETERMINISTIC md5-bucket subset of the table —
    keep vec_id where pmod(md5-bucket, K) == 0 with K sized so ~sample_n
    rows survive — collected driver-side in ascending vec_id order.
    md5-bucketing (the train_split convention), never sample()/random():
    the same table yields the same sample whatever the partitioning or
    engine, so centroids are reproducible cross-process and shareable as
    oracle literals. The collect is bounded by ~sample_n rows (FAISS-
    style: the quantizer trains on a sample, the corpus never moves).

    Persistence: centroids + the input fingerprint land in
    index_dir/_ivf_index.json; a re-query with the same table + params
    loads them with ZERO Spark jobs (fingerprint = driver-side file
    metadata). A changed table or params retrains. In-memory inputs have
    no stable identity and retrain per call.

    Returns the centroid list ann_topk_ivf(centroids=...) consumes."""
    import json
    import os as _os
    fp = _index_fingerprint(embeddings, "ivf", n_lists, iters, sample_n)
    mp = _os.path.join(index_dir, IVF_MANIFEST)
    if fp is not None and _os.path.exists(mp):
        try:
            with open(mp) as f:
                m = json.load(f)
            if m.get("fingerprint") == fp:
                return m["centroids"]
        except (json.JSONDecodeError, OSError):
            pass
    mat = _training_sample(embeddings, sample_n)
    cent = train_ivf_centroids(mat, n_lists, iters)
    out = [[float(x) for x in row] for row in cent]
    hot = _hot_lists_from_sample(mat, cent)
    if fp is not None:
        _os.makedirs(index_dir, exist_ok=True)
        write_json_atomic(mp, {"fingerprint": fp, "n_lists": n_lists,
                               "iters": iters, "sample_n": sample_n,
                               "n_sampled": len(mat), "centroids": out,
                               "hot_lists": hot})
    return out


# a Voronoi list is HOT when it holds more than this multiple of the
# mean list population — the eps_join hot-cell heuristic, re-used
IVF_HOT_FACTOR = 4.0


def _hot_lists_from_sample(mat: "np.ndarray", cent: "np.ndarray",
                           factor: float = IVF_HOT_FACTOR) -> list[int]:
    """Hot-list ids from the (already driver-side) training sample —
    zero extra Spark jobs, the manifest-style heat detection of
    hot_cell_keys applied to IVF. Uses the SAME assignment rule
    ann_topk_ivf ranks with — round(cos, 6) desc, lowest list id on
    ties — and the heat test of partitioning.hot_keys (count > factor x
    mean) over the whole sample. Heat is perf-only: salting replicates,
    never drops, so a stale/missing list can't change results."""
    if len(mat) == 0 or len(cent) == 0:
        return []
    vn = mat / np.maximum(
        np.sqrt((mat * mat).sum(axis=1, keepdims=True)), 1e-300)
    cn = cent / np.maximum(
        np.sqrt((cent * cent).sum(axis=1, keepdims=True)), 1e-300)
    sims = np.round(np.stack([np.sum(vn * cn[j], axis=1)
                              for j in range(len(cent))], axis=1), 6)
    counts = np.bincount(sims.argmax(axis=1), minlength=len(cent))
    return sorted(int(i) for i in
                  np.nonzero(counts > factor * counts.mean())[0])


def ivf_hot_lists(index_dir: str) -> list[int]:
    """Load the persisted hot-list ids for a trained IVF index — ZERO
    Spark jobs (driver-side JSON read), the manifest-fed path a repeat
    query takes, exactly like eps_join(hot_cells=manifest keys). An
    absent manifest or a pre-r6 manifest without the key returns [] —
    unsalted, still correct (heat is perf-only)."""
    import json
    import os as _os
    mp = _os.path.join(index_dir, IVF_MANIFEST)
    try:
        with open(mp) as f:
            return [int(x) for x in json.load(f).get("hot_lists", [])]
    except (OSError, json.JSONDecodeError):
        return []


def _scored_lists_expr(centroids: list):
    """UNSORTED (nc=-round(cos,6), list_id) struct array scoring
    `embedding` against every centroid — the shared shuffle-free
    assignment primitive. The struct ordering (nc asc, list_id asc) ==
    (cosine DESC, lowest list id on ties) is the pinned cross-engine
    assignment rule; consumers take array_min for the argmax list
    (base rows, ivf_hot_lists_refresh — O(n_lists) per row) or
    array_sort for the ranked list (probes' top-n_probe —
    O(n_lists log n_lists), bounded to the probe minority; VERDICT r06
    #2/#5: base rows paid the full sort for an argmax). The centroid
    table enters the plan as a SINGLE nested-array literal walked by
    transform's (element, index) lambda, not n_lists × d scattered
    literal nodes — Catalyst analysis over the exploded form cost whole
    seconds of fixed per-query planning (the r6 bench regression:
    ann_ivf 1.8 → 5.0 s at sf0.1); the arithmetic and its order are
    identical."""
    cents = F.lit([[float(x) for x in c] for c in centroids])
    return F.transform(
        cents,
        lambda c, i: F.struct(
            (-F.round(_cos_expr(F.col("embedding"), c), 6)).alias("nc"),
            i.cast("long").alias("list_id")))


def _ranked_lists_expr(centroids: list):
    """Fully sorted ranked-list form (probe-side consumer)."""
    return F.array_sort(_scored_lists_expr(centroids))


def _top_list_expr(centroids: list):
    """Argmax list id — array_min over the scored structs ≡
    array_sort(...)[0] (same total struct order, no sort)."""
    return F.array_min(_scored_lists_expr(centroids))["list_id"]


def ivf_hot_lists_refresh(embeddings: DataFrame, index_dir: str,
                          centroids: list | None = None,
                          factor: float = IVF_HOT_FACTOR) -> list[int]:
    """Recount Voronoi-list populations over the CURRENT corpus and
    rewrite hot_lists in the persisted index manifest — the index
    MAINTENANCE pass for corpus drift after training. A persisted
    quantizer reused while the corpus grows can end up with one list
    holding most of the table; ivf_index's sample-time detection cannot
    see that (it sees the training snapshot), and a REPRESENTATIVE
    training sample rarely shows extreme heat anyway — k-means adapts
    its centroids to the training density, splitting a dominant cluster
    across lists, so same-distribution skew is largely absorbed at
    train time. Post-training drift is where hot lists actually come
    from, and this is the operator that catches them.

    Cost: one map-side assignment pass (the same shuffle-free
    ranked-array expression ann_topk_ivf assigns with — no window, no
    corpus shuffle) + a <= n_lists-row hash agg; the manifest rewrite
    is atomic (tmp + replace). Returns the new hot list ids, which are
    also what ivf_hot_lists(index_dir) now serves."""
    import json
    import os as _os
    mp = _os.path.join(index_dir, IVF_MANIFEST)
    man: dict = {}
    try:
        with open(mp) as f:
            man = json.load(f)
    except (OSError, json.JSONDecodeError):
        pass
    if centroids is None:
        centroids = man.get("centroids")
    if not centroids:
        raise ValueError(
            f"no centroids given and no readable manifest at {mp}")
    top = _top_list_expr(centroids)
    rows = (embeddings.select(top.alias("list_id"))
            .groupBy("list_id").agg(F.count("*").alias("n")).collect())
    counts = np.zeros(len(centroids), dtype=np.float64)
    for r in rows:
        counts[int(r["list_id"])] = float(r["n"])
    hot = sorted(int(i) for i in
                 np.nonzero(counts > factor * counts.mean())[0])
    # (a) with no readable manifest, persist a MINIMAL one
    # (centroids + hot_lists) so ivf_hot_lists() actually serves the
    # refresh result, as the docstring promises; (b) when caller-passed
    # centroids DISAGREE with the manifest's stored ones, skip the
    # rewrite with a warning — hot ids computed against foreign
    # centroids would silently salt the wrong lists on later queries
    # (perf-only, but wrong-direction).
    man_cents = man.get("centroids")
    if man_cents is not None and [
            [float(x) for x in c] for c in man_cents] != [
            [float(x) for x in c] for c in centroids]:
        import warnings
        warnings.warn(
            "ivf_hot_lists_refresh: explicit centroids differ from the "
            f"manifest's at {mp}; hot_lists NOT persisted (they would "
            "salt the wrong lists for manifest-centroid queries)")
        return hot
    if not man:
        man = {"centroids": [[float(x) for x in c] for c in centroids]}
    man["hot_lists"] = hot
    _os.makedirs(_os.path.dirname(mp) or ".", exist_ok=True)
    write_json_atomic(mp, man)
    return hot


def ann_topk_ivf(embeddings: DataFrame, k: int = 5, probe_mod: int = 50,
                 n_lists: int = 16, n_probe: int = 4,
                 centroids: list | None = None,
                 hot_lists: list | None = None,
                 salt_mod: int = 8) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index — the OTHER scale
    path next to multi-table LSH: a coarse quantizer partitions vectors
    into n_lists Voronoi lists; probes search only their n_probe nearest
    lists' vectors, exact-refined.

    The quantizer: pass `centroids` (list of float lists — typically
    train_ivf_centroids over a driver-side sample) for a TRAINED
    quantizer whose centroid literals the Spark plan and the DuckDB
    oracle share bit-for-bit; default None falls back to sampled-seed
    (the n_lists smallest vec_ids' own vectors — kept as the
    zero-training baseline and adversarial-recall foil).
    Assignment ranks on (round(cos, 6) DESC, list_id) — deterministic
    across engines.

    100 TB posture: seeds are a tiny broadcast; assignment is one
    map-side pass (no shuffle); the candidate join shuffles by list_id —
    the IVF point: per-probe work is n_probe/n_lists of the corpus.
    A HOT list (one Voronoi cell holding most of a DRIFTED corpus —
    see ivf_hot_lists_refresh for why drift, not training skew, is the
    source) salts exactly like a hot ε-join cell — pass
    hot_lists=ivf_hot_lists(index_dir) (persisted in the index
    manifest by train-time sampling and/or the refresh pass, zero
    detection jobs at query time): partitioning.salt spreads hot-list
    member rows over salt_mod shuffle partitions by hash(neighbor_id)
    and replicates the probe rows of hot lists salt_mod x (probes are
    ~n_probe/probe_mod of the corpus — the cheap side); the output is
    salt-invariant. Training runs once on a bounded driver-side sample
    — FAISS-style — and is reused across queries."""
    if centroids is None:
        # zero-training fallback: the n_lists smallest vec_ids' own
        # vectors, pulled driver-side (bounded: n_lists rows)
        centroids = [list(r["embedding"]) for r in
                     (embeddings.orderBy("vec_id").limit(n_lists)
                      .select("embedding").collect())]
    # ranked Voronoi lists per vector WITHOUT a corpus-wide shuffle:
    # the seeds are a handful of literals, so per-row ranking is a
    # pure map-side pass (a crossJoin of a broadcast seed table ranked
    # by row_number() over Window.partitionBy(vec_id) is correct, but
    # REPARTITIONS THE WHOLE CORPUS BY vec_id to rank an in-row list).
    # Base rows consume only the ARGMAX list, so they take array_min
    # over the scored structs — O(n_lists) per corpus row instead of
    # the full O(n_lists log n_lists) array_sort; only the probe
    # minority ranks the whole list for its top-n_probe. Ordering is
    # identical either way: struct(-round(cos,6), list_id) ascending ==
    # (cos DESC, list_id ASC), ties to the lowest list id, and
    # array_min ≡ array_sort(...)[0] under that total order.
    # The refine score is computed in the list join's map stage, so the
    # candidate dedup (and the top-k window) shuffle (ids, score) only —
    # see the comment at the dedup below. The scored Column OBJECT is
    # constructed once in Python (one nested-array literal, one Py4J
    # conversion — building it per branch measurably doubled
    # plan-construction time) and embedded directly in both branch
    # expressions. Deliberately NOT shared via
    # an intermediate projection: Spark 4.1 mis-binds the lambda
    # attributes when array_min consumes the aliased transform column
    # through a collapsed project (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND,
    # reproduced).
    scored = _scored_lists_expr(centroids)
    fanned = fan_out(embeddings, "vec_id")
    lists = fanned.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("b_emb"),
        F.array_min(scored)["list_id"].alias("list_id"))
    probes = (fanned
              .filter(F.col("vec_id") % probe_mod == 0)
              .select(F.col("vec_id").alias("query_id"),
                      F.col("embedding").alias("q_emb"),
                      F.explode(F.transform(
                          F.slice(F.array_sort(scored), 1, n_probe),
                          lambda s: s["list_id"])).alias("list_id")))
    if hot_lists:
        hot = F.array(*[F.lit(int(h)).cast("long")
                        for h in sorted(set(hot_lists))])
        is_hot = F.array_contains(hot, F.col("list_id").cast("long"))
        lists, probes = salt_sides(lists, probes, is_hot, salt_mod,
                                   "neighbor_id")
        cand = probes.join(lists, ["list_id", "_salt"])
    else:
        cand = probes.join(lists, "list_id")
    # score in the join's map stage, then dedup on (ids, score) only —
    # the dedup and window exchanges carry ~24 bytes/row, not 2×d
    # doubles (guide §2.3; a pair sharing several probed lists scores
    # once per list, deterministic-identical)
    cand = (cand
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .withColumn("score",
                        F.round(_cos_expr(F.col("q_emb"), F.col("b_emb")), 6))
            .select("query_id", "neighbor_id", "score")
            .dropDuplicates(["query_id", "neighbor_id"]))

    w2 = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                                F.asc("neighbor_id"))
    return (cand
            .withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "score", "rank"))


PQ_MANIFEST = "_pq_index.json"


def train_pq_codebooks(vecs: "np.ndarray", m: int = 8, k_pq: int = 16,
                       iters: int = 8) -> list:
    """Deterministic product-quantization codebooks: L2-normalize the
    sample rows (so asymmetric-distance inner products approximate
    cosine, the metric every ANN variant here ranks by), split the
    dimension into m equal subspaces, and train each subspace's k_pq
    centroids with train_ivf_centroids — the same
    strided-init/fixed-order/first-tie k-means whose floats are
    process-independent, so codebooks can be shared as literals between
    the Spark expressions and the DuckDB oracle. Returns
    [m][k_pq][d/m] floats. The dimension must split evenly (FAISS's PQ
    precondition too)."""
    vecs = np.asarray(vecs, dtype=np.float64)
    d = vecs.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    ds = d // m
    vn = vecs / np.maximum(
        np.sqrt((vecs * vecs).sum(axis=1, keepdims=True)), 1e-300)
    return [[[float(x) for x in row]
             for row in train_ivf_centroids(vn[:, j * ds:(j + 1) * ds],
                                            k_pq, iters)]
            for j in range(m)]


def pq_index(embeddings: DataFrame, index_dir: str, m: int = 8,
             k_pq: int = 16, iters: int = 8,
             sample_n: int = 100_000) -> list:
    """Train-or-load the product-quantization codebooks as a PERSISTED
    index artifact — ivf_index's contract applied to the second FAISS
    leg: a deterministic md5-bucket sample (bounded, id-ordered)
    trains per-subspace codebooks once; they land with the input
    fingerprint in index_dir/_pq_index.json and a re-query with the
    same table + params loads them with ZERO Spark jobs. Returns the
    [m][k_pq][d/m] codebook list ann_topk_pq(codebooks=...) consumes."""
    import json
    import os as _os
    fp = _index_fingerprint(embeddings, "pq", m, k_pq, iters, sample_n)
    mp = _os.path.join(index_dir, PQ_MANIFEST)
    if fp is not None and _os.path.exists(mp):
        try:
            with open(mp) as f:
                man = json.load(f)
            if man.get("fingerprint") == fp:
                return man["codebooks"]
        except (json.JSONDecodeError, OSError):
            pass
    mat = _training_sample(embeddings, sample_n)
    books = train_pq_codebooks(mat, m, k_pq, iters)
    if fp is not None:
        _os.makedirs(index_dir, exist_ok=True)
        write_json_atomic(mp, {"fingerprint": fp, "m": m, "k_pq": k_pq,
                               "iters": iters, "sample_n": sample_n,
                               "n_sampled": len(mat), "codebooks": books})
    return books


def _norm_expr(x):
    """L2-normalized copy of an embedding array (double), zero-guarded
    like the numpy twin (1e-300 floor)."""
    nx = F.sqrt(F.aggregate(
        F.transform(x, lambda p: p.cast("double") * p.cast("double")),
        F.lit(0.0), lambda a, b: a + b))
    nx = F.greatest(nx, F.lit(1e-300))
    return F.transform(x, lambda p: p.cast("double") / nx)


def ann_topk_pq(embeddings: DataFrame, k: int = 5, probe_mod: int = 50,
                m: int = 8, k_pq: int = 16,
                codebooks: list | None = None,
                refine: int = 4, shards: int = 32) -> DataFrame:
    """Approximate top-k via PRODUCT QUANTIZATION with asymmetric
    distance (ADC) — the third FAISS leg next to LSH bucketing and IVF
    pruning: every base vector is compressed to m sub-space code bytes
    (argmin L2 against its subspace codebook, computed as
    argmax(x·c − ‖c‖²/2) — the classic identity — over ROUNDED scores,
    lowest code on ties); a probe computes one m×k_pq lookup table of
    sub-space inner products against its own normalized sub-vectors and
    scores every base row with m table lookups instead of d multiplies
    — the PQ point: the scan still touches every row but reads m bytes
    of codes, not d floats, and the per-pair CPU is m adds.

    Selection is two-stage, the FAISS refine pattern: ADC prunes to the
    top k·refine candidates per probe (per-subspace LUT values rounded
    to 6, summed, rounded — the cross-engine determinism rule; ADC ties
    break on neighbor_id), then those candidates join back to the table
    by neighbor_id (k·refine rows per probe — the scan never carries
    embeddings) and EXACT cosine re-ranks the final top-k. The refine
    stage is load-bearing, not cosmetic: all near-identical vectors get
    the SAME m codes, so pure-ADC top-k inside a tight cluster
    degenerates to id order (measured recall@10 ~0.2 on the clustered
    fixture; ~1.0 with refine=4). Output: (query_id, neighbor_id,
    score, rank) with score = exact cosine and rank by (score DESC,
    neighbor_id).

    100 TB posture: codebooks are literals in the plan (trained once,
    pq_index); encoding is one map-side codegen pass, no shuffle; the
    ADC scan is probes-broadcast × base — one pass over the corpus per
    probe batch with O(m) work per pair; the exact re-score touches
    k·|probes| rows. All pure Catalyst — no UDF, no Python."""
    if codebooks is None:
        codebooks = train_pq_codebooks(
            _training_sample(embeddings, 100_000), m, k_pq, iters=8)
    m = len(codebooks)
    k_pq = len(codebooks[0])
    ds = len(codebooks[0][0])

    # each subspace's codebook (and its precomputed ‖c‖²/2 vector)
    # enters the plan as ONE nested-array literal walked by transform —
    # not k_pq × ds scattered literal nodes, whose Catalyst analysis
    # cost dominated the query at bench scale (same fix as
    # _ranked_lists_expr). The per-subspace encode/LUT expressions
    # are BUILT AS SQL STRINGS parsed by one F.expr call each — the
    # Py4J Column/lambda composition cost ~1.3 s of driver time per
    # query construction (inside the benched region); the parsed
    # expressions are identical — same aggregate/zip_with arithmetic in
    # the same order, float literals emitted via repr (exact
    # round-trip), 0.0D seeds matching F.lit(0.0).
    def _arr(vals):
        return "array(" + ", ".join(f"{float(v)!r}D" for v in vals) + ")"

    books_sql = ["array(" + ", ".join(_arr(c) for c in book) + ")"
                 for book in codebooks]
    hns_sql = [_arr([sum(float(w) * float(w) for w in c) / 2.0
                     for c in book])
               for book in codebooks]

    def _dot_sql(sub, cent):
        # Σ_t sub[t]·w_t, fixed left-to-right order
        return (f"aggregate(zip_with({sub}, {cent}, (p, q) -> p * q), "
                f"0.0D, (a, b) -> a + b)")

    def _code_sql(j):
        sub = f"slice(_nb, {j * ds + 1}, {ds})"
        return (f"array_min(transform({books_sql[j]}, (c, i) -> "
                f"named_struct('ns', -round({_dot_sql(sub, 'c')} - "
                f"element_at({hns_sql[j]}, i + 1), 6), 'c', i))).c")

    def _lut_sql(j):
        qsub = f"slice(_qn, {j * ds + 1}, {ds})"
        return (f"transform({books_sql[j]}, "
                f"c -> round({_dot_sql(qsub, 'c')}, 6))")

    # single SELECT per side, not m chained withColumns (each is a Py4J
    # round-trip plus a plan level to analyze)
    nb = _norm_expr(F.col("embedding"))
    base = (fan_out(embeddings, "vec_id")
            .select("vec_id", nb.alias("_nb"))
            .select("vec_id",
                    *[F.expr(_code_sql(j)).alias(f"_code_{j}")
                      for j in range(m)]))

    probes = (embeddings.filter(F.col("vec_id") % probe_mod == 0)
              .select(F.col("vec_id").alias("query_id"),
                      _norm_expr(F.col("embedding")).alias("_qn"))
              .select("query_id",
                      *[F.expr(_lut_sql(j)).alias(f"_lut_{j}")
                        for j in range(m)]))

    adc = F.round(
        sum(F.element_at(F.col(f"_lut_{j}"), F.col(f"_code_{j}") + 1)
            for j in range(m)), 6)
    # the ADC prune is partitioning.sharded_top_k, not a per-query
    # global window: one window per probe would funnel every corpus row
    # for that probe through ONE task (the one flagged scale-killer of
    # this operator); sharded by hash(neighbor_id), the full-corpus ADC
    # scan spreads over `shards` reduce tasks per probe, same output
    scored = (base.withColumnRenamed("vec_id", "neighbor_id")
              .crossJoin(F.broadcast(probes))
              .filter(F.col("query_id") != F.col("neighbor_id"))
              .withColumn("_adc", adc))
    cand = sharded_top_k(scored, ["query_id"],
                         [F.desc("_adc"), F.asc("neighbor_id")],
                         k * refine, "neighbor_id", shards,
                         "_arank").select("query_id", "neighbor_id")

    # exact refine: the candidate set is tiny (≤ |probes|·k·refine id
    # pairs), so it BROADCASTS into the embedding joins — the corpus
    # table is scanned once and never shuffled here (not two
    # corpus-keyed shuffle joins for ~2k candidate rows)
    q_emb = (embeddings.filter(F.col("vec_id") % probe_mod == 0)
             .select(F.col("vec_id").alias("query_id"),
                     F.col("embedding").alias("q_emb")))
    b_emb = embeddings.select(F.col("vec_id").alias("neighbor_id"),
                              F.col("embedding").alias("b_emb"))
    w_ex = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                                  F.asc("neighbor_id"))
    return (b_emb.join(F.broadcast(cand), "neighbor_id")
            .join(F.broadcast(q_emb), "query_id")
            .withColumn("score",
                        F.round(_cos_expr(F.col("q_emb"), F.col("b_emb")),
                                6))
            .withColumn("rank", F.row_number().over(w_ex))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "score", "rank"))


def embedding_dup_pairs(embeddings: DataFrame, threshold: float = 0.9,
                        bits: int = 12, tables: int = 4) -> DataFrame:
    """(a_id, b_id, cos) — embedding-cosine near-duplicate detection, the
    vector member of the dedup ladder (exact → minhash/LSH → simhash →
    embedding cosine). Candidates from the multi-table sign-LSH buckets
    (equi-joins, never all-pairs), refined with exact cosine ≥ threshold.
    Recall is governed by (bits, tables) exactly like ann_topk_lsh_multi;
    the DuckDB oracle mirrors prefilter + refine, so the approximation is
    itself verified."""
    # the bucket keys ride the corpus scan (_with_multi_bucket — no
    # vec_id attach join), and the exact cosine is computed in the
    # bucket-join's map stage so the (a_id, b_id) dedup exchange
    # carries (ids, cos) ≈ 24 bytes a row instead of 2×d doubles (r7,
    # guide §2.3 / VERDICT r06 #4; a pair surfacing in several tables
    # scores once per table, deterministic-identical each time)
    with_b = _with_multi_bucket(
        embeddings.select("vec_id", "embedding"), bits, tables)
    a = with_b.select(F.col("vec_id").alias("a_id"),
                      F.col("embedding").alias("a_emb"), "tbl", "bucket")
    b = with_b.select(F.col("vec_id").alias("b_id"),
                      F.col("embedding").alias("b_emb"), "tbl", "bucket")
    return (a.join(b, ["tbl", "bucket"])
            .filter(F.col("a_id") < F.col("b_id"))
            .withColumn("cos", F.round(_cos_expr(F.col("a_emb"), F.col("b_emb")), 6))
            .select("a_id", "b_id", "cos")
            .dropDuplicates(["a_id", "b_id"])
            .filter(F.col("cos") >= threshold))


def ann_topk_lsh(embeddings: DataFrame, k: int = 5,
                 probe_mod: int = 50, bits: int = 8) -> DataFrame:
    """Approximate top-k: candidates restricted to the probe's sign bucket
    (equi-join prefilter), exact cosine refine + window top-k. The scale
    path: shuffle is keyed by bucket, never all-pairs."""
    # the bucket key rides the corpus scan directly — the pre-r7 form
    # attached it with a vec_id self-join (2 extra exchanges); the score
    # is computed in the join's map stage so the window exchange carries
    # (ids, score) only (r7, same discipline as ann_topk_lsh_multi)
    with_b = fan_out(embeddings, "vec_id").select(
        "vec_id", "embedding", _sign_bucket_expr(bits).alias("bucket"))
    a = (with_b.filter(F.col("vec_id") % probe_mod == 0)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("q_emb"), "bucket"))
    b = with_b.select(F.col("vec_id").alias("neighbor_id"),
                      F.col("embedding").alias("b_emb"), "bucket")
    joined = (a.join(b, "bucket")
              .filter(F.col("query_id") != F.col("neighbor_id"))
              .withColumn("score",
                          F.round(_cos_expr(F.col("q_emb"), F.col("b_emb")), 6))
              .select("query_id", "neighbor_id", "score"))

    # cosine in fixed dimension order via zip_with + aggregate (JVM-side)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (joined
            .withColumn("rank", F.row_number().over(w))  # score already rounded
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "score", "rank"))


def embedding_dup_clusters(embeddings: DataFrame, threshold: float = 0.9,
                           bits: int = 12, tables: int = 4) -> DataFrame:
    """(vec_id, cluster_id, is_keeper) — the vector twin of
    textops.dedup_clusters: connected components over the embedding-
    cosine near-duplicate pair graph (embedding_dup_pairs: multi-table
    sign-LSH candidates, exact-cosine refine), labelled by
    imc.graph.connected_components (on the driver up to LOCAL_EDGES pairs,
    by contraction rounds above). The dedup ladder's operational end for
    embeddings: purge list = NOT is_keeper, canonical = component-min."""
    pairs = embedding_dup_pairs(embeddings, threshold, bits, tables)
    comp = graph.connected_components(
        embeddings.select(F.col("vec_id").alias("id")).distinct(),
        pairs.select(F.col("a_id").alias("a"), F.col("b_id").alias("b")))
    return comp.select(F.col("id").alias("vec_id"),
                       F.col("comp").alias("cluster_id"),
                       (F.col("id") == F.col("comp")).alias("is_keeper"))
