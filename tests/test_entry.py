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


def test_fixture_cache_names_track_engine_sources(tmp_path, monkeypatch):
    """The cached segments/assignments fixtures are keyed by the imc/*.py
    sources too: one changed source byte must change both cache names, so
    the oracles never compare against output written by older code."""
    real = (entrymod._seg_cache_name(), entrymod._assign_cache_name())
    src = tmp_path / "imc"
    src.mkdir()
    for name in os.listdir(entrymod._IMC_DIR):
        if name.endswith(".py"):
            with open(os.path.join(entrymod._IMC_DIR, name), "rb") as f:
                (src / name).write_bytes(f.read())
    monkeypatch.setattr(entrymod, "_IMC_DIR", str(src))
    before = (entrymod._seg_cache_name(), entrymod._assign_cache_name())
    assert before == real  # the bytes decide, not the directory
    joins = src / "joins.py"
    data = bytearray(joins.read_bytes())
    data[-1] ^= 1
    joins.write_bytes(bytes(data))
    after = (entrymod._seg_cache_name(), entrymod._assign_cache_name())
    assert before[0] != after[0] and before[1] != after[1]
    assert all(entrymod.PARAMS.params_hash() in n for n in before + after)


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
