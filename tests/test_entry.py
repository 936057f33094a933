"""Smoke the driver contract: entry() and every rows-only queries() entry
runs and returns a stable-schema DataFrame at the driver's scales."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"a_seg", "b_seg", "dist", "a_tile", "b_tile"}


def _copy_sources(dst, flip_last_byte_of=None):
    dst.mkdir()
    src = os.path.join(os.path.dirname(entrymod.__file__), "imc")
    for name in os.listdir(src):
        if name.endswith(".py"):
            with open(os.path.join(src, name), "rb") as f:
                data = bytearray(f.read())
            if name == flip_last_byte_of:
                data[-1] ^= 1
            (dst / name).write_bytes(bytes(data))


def test_fixture_cache_names_track_engine_sources(tmp_path, monkeypatch):
    """The cached segments/assignments fixtures are keyed by the imc/*.py
    sources too: one changed source byte must change both cache names, so
    the oracles never compare against output written by older code. The
    digest is read once per process, so an edit while a process runs
    leaves its names unchanged: its Spark queries and DuckDB twins
    always name the same cache."""
    def names():
        return (entrymod._seg_cache_name(), entrymod._assign_cache_name())

    real = names()
    _copy_sources(tmp_path / "same")
    monkeypatch.setattr(entrymod, "_IMC_DIR", str(tmp_path / "same"))
    before = names()
    assert before == real  # the bytes decide, not the directory
    joins = tmp_path / "same" / "joins.py"
    data = bytearray(joins.read_bytes())
    data[-1] ^= 1
    joins.write_bytes(bytes(data))
    assert names() == before  # read once per process
    _copy_sources(tmp_path / "edited", flip_last_byte_of="joins.py")
    monkeypatch.setattr(entrymod, "_IMC_DIR", str(tmp_path / "edited"))
    after = names()
    assert before[0] != after[0] and before[1] != after[1]
    assert all(entrymod.PARAMS.params_hash() in n for n in before + after)


def test_fixture_cache_write_removes_other_digests(spark, tmp_path):
    """Writing a cache deletes the caches of other source digests under
    the same params hash, and nothing else."""
    for name in ("segments_p1_old1.parquet", "segments_p1_old2.parquet",
                 "segments_p2_old3.parquet", "assignments_p1_old4.parquet"):
        (tmp_path / name).mkdir()
    entrymod._write_cache(spark.range(3),
                          str(tmp_path / "segments_p1_new.parquet"))
    assert sorted(os.listdir(tmp_path)) == [
        "assignments_p1_old4.parquet", "segments_p1_new.parquet",
        "segments_p2_old3.parquet"]


def test_queries_outside_driver_snapshot_are_pinned():
    """The queries past the driver's snapshot window get no driver
    correctness row; a reorder that changes which ones must show here."""
    names = list(entrymod.queries())
    assert len(names) == 56
    assert (tuple(names[entrymod.DRIVER_SNAPSHOT_ROWS:])
            == entrymod.OUTSIDE_DRIVER_SNAPSHOT)


ROWS_ONLY = sorted(set(entrymod.queries()) - set(entrymod.oracle_sql()))


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    df = entrymod.queries()[name](spark, SF_DIR)
    n = df.count()
    assert n >= 0
    # schema is stable across two invocations
    df2 = entrymod.queries()[name](spark, SF_DIR)
    assert df.schema == df2.schema
    if name in ("imc_points", "imc_segments", "imc_eps_pairs", "imc_assignments",
                "imc_rep_points", "imc_raster", "imc_text_sha"):
        assert n > 0, name


def test_rel_asof_edge_semantics(spark, tmp_path):
    """Pin the as-of join's edge behavior on a hand-built events table:
    a purchase with no click at-or-before it gets the ''/-1 sentinels, a
    click at the EXACT purchase timestamp matches (inclusive >=, the
    ASOF convention), the latest of several prior clicks wins, a click
    AFTER the purchase never matches, and users never see each other's
    clicks. The driver-gate oracle (DuckDB native ASOF LEFT JOIN) checks
    bulk parity at sf0.01; this pins the corner cases by hand."""
    import datetime as dt

    import pandas as pd

    t = lambda s: dt.datetime.fromisoformat(s)  # noqa: E731
    rows = [
        # user 1: click 10:00, click 10:05, purchase 10:05 (ties click),
        # purchase 10:07 (latest prior = 10:05)
        (101, t("2026-01-01 10:00:00"), 1, "click"),
        (102, t("2026-01-01 10:05:00"), 1, "click"),
        (103, t("2026-01-01 10:05:00"), 1, "purchase"),
        (104, t("2026-01-01 10:07:30"), 1, "purchase"),
        # user 2: purchase BEFORE its only click → sentinels
        (201, t("2026-01-01 09:00:00"), 2, "purchase"),
        (202, t("2026-01-01 09:30:00"), 2, "click"),
        # user 3: only other-type noise events → purchase unmatched
        (301, t("2026-01-01 08:00:00"), 3, "view"),
        (302, t("2026-01-01 08:10:00"), 3, "purchase"),
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type"])
    pdf["value"] = 0.0
    pdf["props"] = ""
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    pdf.to_parquet(os.path.join(tmp_path, "events.parquet"), index=False)

    out = {r["event_id"]: r.asDict() for r in
           entrymod.queries()["rel_asof"](spark, str(tmp_path)).collect()}
    assert set(out) == {103, 104, 201, 302}
    assert out[103]["click_ts"].startswith("2026-01-01 10:05:00")
    assert out[103]["gap_sec"] == 0
    assert out[104]["click_ts"].startswith("2026-01-01 10:05:00")
    assert out[104]["gap_sec"] == 150
    for eid in (201, 302):
        assert out[eid]["click_ts"] == ""
        assert out[eid]["gap_sec"] == -1
