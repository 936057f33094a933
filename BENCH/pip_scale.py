"""Point-in-polygon tile assignment at 10^5+ tiles, N vs 4N cores.

Synthesizes a many-venue corpus DIRECTLY as DataFrames (50k venues × 2
tiles = 100k tiles and 40 segments/venue = 2M probes; all env-tunable)
and times joins.tile_assignments — the one Catalyst PIP path — on the
same data at local[N] and local[4N]. The timed action is a count of the
ASSIGNED segments (tile_id >= 0): it reads tile_id, so Catalyst cannot
prune the join away. The hit count is checked against the scalar
kernels.point_in_polygon oracle of one venue (every venue has the same
geometry up to a translation that creates no near-edge point), and the
join strategy the planner chose is recorded.

    python BENCH/pip_scale.py          # IMC_SCALING_N=4 → local[4], local[16]

Replaces a section of BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_LO = int(os.environ.get("IMC_SCALING_N", "4"))
N_HI = 4 * N_LO
N_VENUES = int(os.environ.get("IMC_PIP_VENUES", "50000"))
SEGS_PER_VENUE = int(os.environ.get("IMC_PIP_SEGS_PER_VENUE", "40"))
HEADER = "## Point-in-polygon at 10^5 tiles (one Catalyst path)"

WORKER = r"""
import json, re, sys, time
sys.path.insert(0, %(repo)r)
import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from imc import joins, kernels
from imc.config import VENUE_STRIDE

cpus = int(sys.argv[1])
V = int(sys.argv[2])
SPV = int(sys.argv[3])
s = (SparkSession.builder.master(f"local[{cpus}]")
     .config("spark.sql.shuffle.partitions", "64")
     .config("spark.sql.adaptive.enabled", "true")
     .config("spark.driver.memory", "4g")
     .config("spark.ui.enabled", "false").getOrCreate())
s.sparkContext.setLogLevel("ERROR")

# venue v sits at (100*(v%%1000), 100*(v//1000)); two 10x10 tiles per venue
cx = (F.col("venue") %% 1000) * 100.0
cy = (F.col("venue").cast("long") / F.lit(1000)).cast("long") * 100.0
TILES = [(-12, -6, -2, 4), (2, -6, 12, 4)]

def ring(x0, y0, x1, y1):
    return F.array(
        F.struct((cx + x0).alias("x"), (cy + y0).alias("y")),
        F.struct((cx + x1).alias("x"), (cy + y0).alias("y")),
        F.struct((cx + x1).alias("x"), (cy + y1).alias("y")),
        F.struct((cx + x0).alias("x"), (cy + y1).alias("y")))

tiles = (s.range(V * 2)
         .select((F.col("id") / 2).cast("long").alias("venue"),
                 (F.col("id") %% 2).alias("k"))
         .select("venue", (F.col("venue") * 1000 + F.col("k")).alias("tile_id"),
                 F.when(F.col("k") == 0, ring(*TILES[0]))
                 .otherwise(ring(*TILES[1])).alias("ring")))

segs = (s.range(V * SPV)
        .select((F.col("id") / SPV).cast("long").alias("venue"),
                (F.col("id") %% SPV).alias("i"))
        .select((F.col("venue") * VENUE_STRIDE).alias("traj_id"),
                (F.col("venue") * 100000 + F.col("i")).alias("seg_id"),
                (cx - 14 + (F.col("i") %% 13) * 2.2).alias("x1"),
                (cy - 7 + (F.col("i") %% 11) * 1.3).alias("y1"),
                (cx - 14 + (F.col("i") %% 13) * 2.2 + 0.5).alias("x2"),
                (cy - 7 + (F.col("i") %% 11) * 1.3 + 0.5).alias("y2")))
segs = segs.repartition(cpus * 2).cache()
tiles = tiles.cache()
n_seg = segs.count(); n_tile = tiles.count()

# scalar oracle of venue 0, times V
i = np.arange(SPV)
px = -14 + (i %% 13) * 2.2 + 0.25
py = -7 + (i %% 11) * 1.3 + 0.25
hit = np.zeros(SPV, dtype=bool)
for x0, y0, x1, y1 in TILES:
    hit |= kernels.point_in_polygon(
        px, py, [(x0, y0), (x1, y0), (x1, y1), (x0, y1)])
want_hits = int(hit.sum()) * V

# warm the code path on a slice
joins.tile_assignments(segs.filter("traj_id < 50 * %%d" %% VENUE_STRIDE),
                       tiles.filter("venue < 50")).count()

best = None
for rep in range(2):
    t0 = time.perf_counter()
    out = joins.tile_assignments(segs, tiles).filter("tile_id >= 0")
    hits = out.count()
    dt = time.perf_counter() - t0
    if best is None or dt < best[0]:
        best = (dt, hits)
plan = out._jdf.queryExecution().executedPlan().toString()
assert best[1] == want_hits, (best[1], want_hits)
print(json.dumps({"cpus": cpus, "n_seg": n_seg, "n_tile": n_tile,
                  "sec": round(best[0], 2), "hits": best[1],
                  "join": re.search(r"(\w+Join) \[", plan).group(1)}))
s.stop()
""" % {"repo": REPO}


def main():
    results = {}
    for cpus in (N_LO, N_HI):
        print(f"PIP scale run at local[{cpus}] ...", file=sys.stderr)
        out = subprocess.run(
            [sys.executable, "-c", WORKER, str(cpus), str(N_VENUES),
             str(SEGS_PER_VENUE)],
            capture_output=True, text=True, check=True)
        results[cpus] = json.loads(out.stdout.strip().splitlines()[-1])

    lo, hi = results[N_LO], results[N_HI]
    eff = round((lo["sec"] / hi["sec"]) / 4, 3)
    lines = [
        "",
        HEADER,
        "",
        f"{lo['n_tile']} tiles across {N_VENUES} venues, {lo['n_seg']} probe",
        "segments, best-of-2 of `joins.tile_assignments(...).filter(",
        "\"tile_id >= 0\").count()` (hit count checked against the scalar",
        "oracle), `BENCH/pip_scale.py`:",
        "",
        "| level | seconds | hits | join chosen by the planner |",
        "|---|---|---|---|",
        f"| local[{N_LO}] | {lo['sec']} | {lo['hits']} | {lo['join']} |",
        f"| local[{N_HI}] | {hi['sec']} | {hi['hits']} | {hi['join']} |",
        "",
        f"N→4N raw scaling efficiency: **{eff}**.",
        "",
    ]
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from _md import replace_section
    replace_section(HEADER, lines)
    print(json.dumps({"eff": eff, "lo": lo, "hi": hi}))


if __name__ == "__main__":
    main()
