"""Spatial joins (SURVEY.md §2.4 — the heart of the engine).

ε-neighborhood self-join = the DBSCAN bulk ε-query ([T] §4.2 Defn 5), done
as ONE distributed join, not n point queries:

  phase 1 (prefilter): each segment is exploded onto every grid cell its
    bbox EXPANDED BY r = gap_bound/2 intersects. The cover is pure Catalyst
    (two sequence+explode generators — zero Python, whole-stage codegen);
    the equi-join on `cell` is a plain shuffle join AQE optimizes.
    Guarantee: dist ≤ ε ⟹ bbox gap ≤ gap_bound = 2r (imc/cells.py proof)
    ⟹ the two expanded bboxes intersect ⟹ the cell containing the
    bottom-left corner of their intersection is in BOTH covers.
  duplicate avoidance is FUSED into the join (no dropDuplicates shuffle):
    that bottom-left-corner cell is the pair's unique RESPONSIBLE cell —
    a candidate row is kept only when its join cell IS the responsible
    cell, so every true pair survives exactly once and the second shuffle
    of the candidate set disappears (PBSM reference-point method).
  skew: hot cells (corridor junctions), found by partitioning.hot_keys
    on a sample of the segments, are salted by partitioning.salt into
    S = salt_buckets partitions, on top of AQE's skew-join splitting
    (BASELINE.json:6 mandates explicit salting).
  phase 2 (refine): codegen'd bbox-gap prefilter, then the exact TRACLUS /
    Hausdorff distance as staged Catalyst expressions (with_traclus_dist —
    zero Python, zero Arrow); filter dist ≤ ε; canonical (a < b) — same
    map stage as the join, so the whole ε-join is exactly one shuffle of
    the (small) cover sets with every stage inside whole-stage codegen.

Scale note: a full-bbox cover is quadratic in cell span for long
DIAGONAL segments where a grid-traversal cover is linear. That weakness
is CLOSED: segments longer than DEFAULT_SPLIT_FACTOR × join_cell take a
split-long pre-pass (per-SUB-segment covers, linear in length, salted
like the main join) through a second join deduped by distinct — see
_split_bbox_cover and the has_long branch of eps_join.

kNN join: the same cover primitive at an expanding probe-side radius R
(base side unexpanded); a probe settles once its k-th distance provably
beats anything outside R. Exact, no full-base broadcast anywhere.

Point-in-polygon tile assignment: one Catalyst plan. Tile rings are
exploded into edges and each segment midpoint is left-joined to its own
venue's edges under the even-odd crossing predicate; an aggregate per
seg_id keeps the lowest tile crossed an odd number of times. The planner
broadcasts the edge table when the polygon set is small (BASELINE.json:6
"broadcast of small polygon sets") and shuffle-joins on venue otherwise —
no Python worker, no driver collect.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from imc.config import VENUE_STRIDE, IMCParams
from imc.partitioning import check_buckets, fan_out, hot_keys
from imc.partitioning import salt as salt_sides

_COORDS = ["x1", "y1", "x2", "y2"]

# 21-bit biased cell-key domain (same envelope as imc/cells.py morton ids);
# key = (ix + BIAS) << 21 | (iy + BIAS) — any bijection works for a hash
# join key, and the plain shift is codegen-friendly SQL.
_KEY_BIAS = 1 << 20
_KEY_SHIFT = 21

# a segment longer than this many join cells takes the split-long cover
# path (linear in length); the single source for eps_join's default and
# for the pipeline's manifest-derived has_long (max_seg_len > factor × g)
DEFAULT_SPLIT_FACTOR = 4.0


def _cell_key(ix: Column, iy: Column) -> Column:
    # envelope guard (ADVICE r02): an index beyond the 21-bit biased domain
    # (|i| ≥ 2^20 ≈ ±5,000 km at default cell sizes) would silently alias
    # distinct cells onto one key — dropping true pairs and duplicating
    # others. Fail loudly instead (same envelope imc/cells.py enforces);
    # the branch is codegen'd and costs four integer compares per row.
    ok = ((ix >= -_KEY_BIAS) & (ix < _KEY_BIAS)
          & (iy >= -_KEY_BIAS) & (iy < _KEY_BIAS))
    key = F.shiftleft(ix + F.lit(_KEY_BIAS), _KEY_SHIFT) + (iy + F.lit(_KEY_BIAS))
    return F.when(ok, key).otherwise(F.raise_error(F.lit(
        "cell index out of the 21-bit biased envelope (|floor(coord/cell)| "
        ">= 2^20): coordinates exceed the supported domain — use a coarser "
        "join cell or pre-filter the input extent")))


def _bbox_cover(segs: DataFrame, g: float, r: float, prefix: str = "") -> DataFrame:
    """segs + exploded `cell` column: every grid cell (size g) intersecting
    the segment's bbox expanded by r. Pure Catalyst — sequence + explode,
    no Python, stays inside whole-stage codegen."""
    x1, y1, x2, y2 = (F.col(prefix + c) for c in _COORDS)
    xmin, xmax = F.least(x1, x2), F.greatest(x1, x2)
    ymin, ymax = F.least(y1, y2), F.greatest(y1, y2)
    return (segs
            .withColumn("_ix", F.explode(F.sequence(
                F.floor((xmin - r) / g), F.floor((xmax + r) / g))))
            .withColumn("_iy", F.explode(F.sequence(
                F.floor((ymin - r) / g), F.floor((ymax + r) / g))))
            .withColumn("cell", _cell_key(F.col("_ix"), F.col("_iy")))
            .drop("_ix", "_iy"))


def _hyp(dx: Column, dy: Column) -> Column:
    return F.sqrt(dx * dx + dy * dy)


def with_traclus_dist(df: DataFrame, w_perp: float = 1.0, w_par: float = 1.0,
                      w_ang: float = 1.0, out: str = "dist") -> DataFrame:
    """Append the TRACLUS segment distance over candidate-pair columns
    (ax1..ay2, bx1..by2) as PURE CATALYST expressions — same float64
    formula sequence as kernels.traclus_distance (sqrt(x²+y²) replaces
    np.hypot; ≤1 ulp apart, golden-gated at 1e-9, and equivalence-tested
    against the numpy kernel at rtol 1e-12). The whole ε-join refine then
    runs JVM-side inside whole-stage codegen with zero Arrow transfer.

    Built as STAGED projections (one withColumns per dependency level):
    CollapseProject keeps multiply-referenced non-cheap intermediates as
    named columns, so t1/ll2/lp1/… are computed once per row instead of
    being inlined into an exponentially duplicated expression tree (the
    single-Column form measured ~30% slower at low core counts)."""
    eps0 = F.lit(1e-12)
    one = F.lit(1.0)
    ax1, ay1, ax2, ay2 = F.col("ax1"), F.col("ay1"), F.col("ax2"), F.col("ay2")
    bx1, by1, bx2, by2 = F.col("bx1"), F.col("by1"), F.col("bx2"), F.col("by2")
    df = df.withColumns({
        "_la": _hyp(ax2 - ax1, ay2 - ay1),
        "_lb0": _hyp(bx2 - bx1, by2 - by1),
    })
    a_base = F.col("_la") >= F.col("_lb0")

    def pick(av: Column, bv: Column) -> Column:
        return F.when(a_base, av).otherwise(bv)

    df = df.withColumns({
        "_q1x": pick(ax1, bx1), "_q1y": pick(ay1, by1),
        "_q2x": pick(ax2, bx2), "_q2y": pick(ay2, by2),
        "_o1x": pick(bx1, ax1), "_o1y": pick(by1, ay1),
        "_o2x": pick(bx2, ax2), "_o2y": pick(by2, ay2),
        "_lb": pick(F.col("_la"), F.col("_lb0")),
        "_lo": pick(F.col("_lb0"), F.col("_la")),
    })
    q1x, q1y = F.col("_q1x"), F.col("_q1y")
    o1x, o1y = F.col("_o1x"), F.col("_o1y")
    o2x, o2y = F.col("_o2x"), F.col("_o2y")
    lb, lo = F.col("_lb"), F.col("_lo")
    df = df.withColumns({
        "_ux": F.col("_q2x") - q1x,
        "_uy": F.col("_q2y") - q1y,
    })
    ux, uy = F.col("_ux"), F.col("_uy")
    df = df.withColumns({
        "_ll2": F.greatest(ux * ux + uy * uy, eps0),
        "_den": F.greatest(lb * lo, eps0),
    })
    df = df.withColumns({
        "_t1": ((o1x - q1x) * ux + (o1y - q1y) * uy) / F.col("_ll2"),
        "_t2": ((o2x - q1x) * ux + (o2y - q1y) * uy) / F.col("_ll2"),
    })
    t1, t2 = F.col("_t1"), F.col("_t2")
    df = df.withColumns({
        "_lp1": _hyp(o1x - (q1x + t1 * ux), o1y - (q1y + t1 * uy)),
        "_lp2": _hyp(o2x - (q1x + t2 * ux), o2y - (q1y + t2 * uy)),
        "_c": F.least(F.greatest(
            (ux * (o2x - o1x) + uy * (o2y - o1y)) / F.col("_den"),
            F.lit(-1.0)), one),
        "_sin": F.least(
            F.abs(ux * (o2y - o1y) - uy * (o2x - o1x)) / F.col("_den"), one),
    })
    lp1, lp2 = F.col("_lp1"), F.col("_lp2")
    d_perp = F.when(lp1 + lp2 > 0,
                    (lp1 * lp1 + lp2 * lp2) / F.greatest(lp1 + lp2, eps0)
                    ).otherwise(F.lit(0.0))
    d_par = F.least(F.least(F.abs(t1), F.abs(one - t1)) * lb,
                    F.least(F.abs(t2), F.abs(one - t2)) * lb)
    d_ang = F.when(F.col("_c") >= 0, lo * F.col("_sin")).otherwise(lo)
    dist = F.lit(w_perp) * d_perp + F.lit(w_par) * d_par + F.lit(w_ang) * d_ang
    df = df.withColumn(out, dist)
    return df.drop("_la", "_lb0", "_q1x", "_q1y", "_q2x", "_q2y",
                   "_o1x", "_o1y", "_o2x", "_o2y", "_lb", "_lo",
                   "_ux", "_uy", "_ll2", "_den", "_t1", "_t2",
                   "_lp1", "_lp2", "_c", "_sin")


def _pt_seg_dist_expr(px, py, x1, y1, x2, y2) -> Column:
    ux, uy = x2 - x1, y2 - y1
    ll2 = ux * ux + uy * uy
    t = F.when(ll2 > 0, ((px - x1) * ux + (py - y1) * uy)
               / F.greatest(ll2, F.lit(1e-12))).otherwise(F.lit(0.0))
    t = F.least(F.greatest(t, F.lit(0.0)), F.lit(1.0))
    return _hyp(px - (x1 + t * ux), py - (y1 + t * uy))


def hausdorff_dist_expr() -> Column:
    """Segment Hausdorff distance as Catalyst expressions (max over the
    four endpoint→other-segment distances; kernels.hausdorff_distance twin)."""
    ax1, ay1, ax2, ay2 = F.col("ax1"), F.col("ay1"), F.col("ax2"), F.col("ay2")
    bx1, by1, bx2, by2 = F.col("bx1"), F.col("by1"), F.col("bx2"), F.col("by2")
    return F.greatest(
        _pt_seg_dist_expr(ax1, ay1, bx1, by1, bx2, by2),
        _pt_seg_dist_expr(ax2, ay2, bx1, by1, bx2, by2),
        _pt_seg_dist_expr(bx1, by1, ax1, ay1, ax2, ay2),
        _pt_seg_dist_expr(bx2, by2, ax1, ay1, ax2, ay2),
    )


def _responsible_cell_expr(g: float, r_left: float, r_right: float) -> Column:
    """The candidate pair's unique responsible cell: the cell containing the
    bottom-left corner of the intersection of (a's bbox expanded by r_left)
    and (b's bbox expanded by r_right). For every pair whose expanded bboxes
    intersect, this cell is in both covers — so `cell == responsible` keeps
    each pair exactly once and the dedupe shuffle is fused away (the PBSM
    reference-point method). The corner expressions reuse the exact same
    float arithmetic as the cover bounds, so floor() agrees bitwise."""
    corner_x = F.greatest(F.least("ax1", "ax2") - F.lit(r_left),
                          F.least("bx1", "bx2") - F.lit(r_right))
    corner_y = F.greatest(F.least("ay1", "ay2") - F.lit(r_left),
                          F.least("by1", "by2") - F.lit(r_right))
    return _cell_key(F.floor(corner_x / g), F.floor(corner_y / g))


def _bbox_gap2() -> Column:
    """Squared gap between the two segments' bboxes (codegen prefilter):
    lower-bounds every point-pair distance, so gap > gap_bound provably
    excludes dist ≤ ε pairs before the refine UDF."""
    dx = F.greatest(F.lit(0.0),
                    F.least("ax1", "ax2") - F.greatest("bx1", "bx2"),
                    F.least("bx1", "bx2") - F.greatest("ax1", "ax2"))
    dy = F.greatest(F.lit(0.0),
                    F.least("ay1", "ay2") - F.greatest("by1", "by2"),
                    F.least("by1", "by2") - F.greatest("ay1", "ay2"))
    return dx * dx + dy * dy


def _split_bbox_cover(segs: DataFrame, g: float, r: float,
                      thresh: float) -> DataFrame:
    """Cover of a LONG segment via its SUB-segment bboxes — linear in
    length where the full-bbox cover is quadratic for diagonals (the
    documented long-diagonal weakness, now closed). Sub-segments only
    shape the cover; candidate rows carry the ORIGINAL segment coords.

    Completeness: dist ≤ ε ⟹ the closest point pair (p*, q*) is within
    gap_bound = 2r (imc/cells.py), so their midpoint is within r of both
    p* and q* (L2 ⟹ L∞); p* lies in some sub-segment's bbox, hence the
    midpoint lies in that sub-bbox expanded by r — the midpoint's cell is
    in BOTH segments' covers. (The PBSM responsible-cell trick needs full
    bboxes, so long-involving candidates dedupe by distinct instead —
    bounded to the long minority.) Pure Catalyst, zero Python."""
    x1, y1, x2, y2 = (F.col(c) for c in _COORDS)
    ln = _hyp(x2 - x1, y2 - y1)
    df = (segs
          .withColumn("_n", F.greatest(F.ceil(ln / F.lit(thresh)), F.lit(1)))
          .withColumn("_i", F.explode(F.sequence(F.lit(0), F.col("_n") - 1))))
    t0 = F.col("_i") / F.col("_n")
    t1 = (F.col("_i") + 1) / F.col("_n")
    ax, ay = x1 + t0 * (x2 - x1), y1 + t0 * (y2 - y1)
    bx, by = x1 + t1 * (x2 - x1), y1 + t1 * (y2 - y1)
    xmin, xmax = F.least(ax, bx), F.greatest(ax, bx)
    ymin, ymax = F.least(ay, by), F.greatest(ay, by)
    return (df
            .withColumn("_ix", F.explode(F.sequence(
                F.floor((xmin - r) / g), F.floor((xmax + r) / g))))
            .withColumn("_iy", F.explode(F.sequence(
                F.floor((ymin - r) / g), F.floor((ymax + r) / g))))
            .withColumn("cell", _cell_key(F.col("_ix"), F.col("_iy")))
            .drop("_ix", "_iy", "_i", "_n"))


def _short_class(segs: DataFrame, g: float, split_factor: float) -> DataFrame:
    """Segments at or below the split-long threshold — THE classification
    shared by eps_join's branch split, its heat sampling, and
    hot_cell_keys (one predicate, no copies to desynchronize)."""
    if split_factor <= 0:
        return segs
    ln = _hyp(F.col("x2") - F.col("x1"), F.col("y2") - F.col("y1"))
    return segs.filter(ln <= F.lit(split_factor * g))


def _hot_cells(segs: DataFrame, g: float, r: float, factor: float) -> DataFrame:
    """(cell, n) for the hot cells of the segments' covers: the heat rule
    run on sampled segments, covered after sampling. eps_join's in-plan
    sampling and hot_cell_keys' manifest list both call it."""
    return hot_keys(segs, ["cell"], factor,
                    expand=lambda sample: _bbox_cover(sample, g, r))


# manifest hot-cell lists are capped at the hottest this-many cells: the
# list lives in the stage manifest JSON, which must stay O(1)-sized
HOT_CELLS_CAP = 4096


def hot_cell_keys(segments: DataFrame, params: IMCParams | None = None,
                  split_factor: float = DEFAULT_SPLIT_FACTOR,
                  limit: int = HOT_CELLS_CAP) -> list[int]:
    """Materialize the ε-join hot-cell key set for a segments table — the
    segments-stage manifest records it (pipeline stats_fn) so later
    eps_join(hot_cells=...) calls skip the per-call sampling job: no
    hidden eager work at plan-construction time.

    Heat is a performance heuristic only (partitioning.salt is
    salt-invariant), so a stale, truncated, or differently-sampled list
    never changes results — which is what makes persisting it in a
    manifest sound. Delegates to the same _hot_cells/_short_class pair
    eps_join uses, so the two paths cannot drift."""
    params = params or IMCParams()
    g = params.join_cell
    r = params.gap_bound / 2.0
    short = _short_class(segments.select("seg_id", *_COORDS), g, split_factor)
    rows = (_hot_cells(short, g, r, params.hot_cell_factor)
            .orderBy(F.desc("n"), "cell").limit(limit).collect())
    return sorted(int(r["cell"]) for r in rows)


def eps_join(segments: DataFrame, params: IMCParams | None = None,
             salt: bool = True, metric: str = "traclus",
             split_factor: float = DEFAULT_SPLIT_FACTOR,
             has_long: bool | None = None,
             hot_cells: list[int] | None = None) -> DataFrame:
    """All pairs (a_seg < b_seg) with distance ≤ ε.

    Returns eps_pairs(a_seg BIGINT, b_seg BIGINT, dist DOUBLE) — itself a
    first-class deliverable ("matching the reference's join output rows",
    BASELINE.json north_rule). One shuffle end-to-end (the cover equi-join);
    dedupe is fused via the responsible-cell filter.

    Segments longer than split_factor × join_cell contribute SUB-segment
    covers (linear in length — a kilometre-scale diagonal no longer
    explodes quadratically in cover cells); candidate pairs touching a
    long segment dedupe by distinct on (a, b) instead of the responsible
    cell, bounded to that minority. split_factor=0 disables the split
    (full-bbox covers for everything).

    has_long=None (default) PROBES the input for long segments at plan
    construction time — a column-pruned pass over the coordinate columns
    (limit-1 short-circuits as soon as one long segment appears; an
    all-short table is scanned fully once to prove it). Callers that know
    their corpus — the pipeline after MDL partitioning, a repeated-ε
    parameter sweep — can pass has_long=False/True to skip the probe and
    keep plan construction fully lazy.

    hot_cells=None (default) samples the input for hot cells at plan
    construction time (one eager sample job when salt=True); passing a
    precomputed key list (hot_cell_keys — the pipeline reads it from the
    segments-stage manifest) makes plan construction job-free. Any list
    is results-correct: heat only steers partitioning.salt, and the pair
    set is salt-invariant.
    """
    params = params or IMCParams()
    if salt:
        check_buckets(params.salt_buckets, "salt_buckets")
    g = params.join_cell
    gap = params.gap_bound
    r = gap / 2.0
    segs = fan_out(segments.select("seg_id", *_COORDS), "seg_id")

    ln = _hyp(F.col("x2") - F.col("x1"), F.col("y2") - F.col("y1"))
    thresh = split_factor * g
    if has_long is None:
        has_long = (split_factor > 0
                    and not segs.filter(ln > F.lit(thresh)).isEmpty())
    else:
        has_long = has_long and split_factor > 0
    short = segs.filter(ln <= F.lit(thresh)) if has_long else segs
    cov = _bbox_cover(short, g, r)

    if salt:
        s = params.salt_buckets
        if hot_cells is None:
            # heat sampled over the short class only — it alone feeds the
            # salted PBSM join (and keeps the sample cover away from the
            # quadratic long-bbox case)
            hot = _hot_cells(short, g, r, params.hot_cell_factor).select("cell")
        else:
            hot = segments.sparkSession.createDataFrame(
                [(int(c),) for c in hot_cells], "cell long")
        hot = F.broadcast(hot.withColumn("_hot", F.lit(True)))
        marked = cov.join(hot, "cell", "left")
        left, right = salt_sides(marked, marked, F.col("_hot"), s, "seg_id")
        join_keys = ["cell", "_salt"]
    else:
        left = right = cov
        join_keys = ["cell"]

    l = left.select(F.col("seg_id").alias("a_seg"),
                    *[F.col(c).alias(f"a{c}") for c in _COORDS],
                    *join_keys)
    rt = right.select(F.col("seg_id").alias("b_seg"),
                      *[F.col(c).alias(f"b{c}") for c in _COORDS],
                      *join_keys)
    pair_cols = ["a_seg", "b_seg",
                 *[f"a{c}" for c in _COORDS], *[f"b{c}" for c in _COORDS]]
    uniq = (l.join(rt, join_keys)
            .filter(F.col("a_seg") < F.col("b_seg"))
            # fused dedupe: keep the pair only in its responsible cell
            # (full-bbox covers guarantee it's in both covers)
            .filter(F.col("cell") == _responsible_cell_expr(g, r, r))
            # codegen bbox-gap prefilter before the exact refine
            .filter(_bbox_gap2() <= F.lit(gap * gap))
            .select(*pair_cols))

    if has_long:
        # long-involving pairs take a SECOND join: the long side's cover is
        # per-SUB-segment (linear in length), the right side is every
        # segment's cover, and — sub-covers break the responsible-cell
        # guarantee — this minority dedupes by distinct on the canonical
        # (a, b) instead. Disjoint from the short-short join by class, so
        # no pair is double-counted across the union.
        long_segs = segs.filter(ln > F.lit(thresh))
        cov_long = _split_bbox_cover(long_segs, g, r, thresh)
        cov_all = cov_long.unionByName(_bbox_cover(short, g, r))
        l2 = cov_long.select(F.col("seg_id").alias("a_seg"),
                             *[F.col(c).alias(f"a{c}") for c in _COORDS],
                             "cell")
        r2 = cov_all.select(F.col("seg_id").alias("b_seg"),
                            *[F.col(c).alias(f"b{c}") for c in _COORDS],
                            "cell")
        if salt:
            # same hot-cell protection as the short-short join (unsalted,
            # the long join re-concentrates a hot cell's entire right
            # side against every long sub-cover row in one task): the
            # all-segments side is the probe, the long minority the
            # replicated build side. The hot set is sampled from the
            # short-class covers — long segments are a minority by the
            # split threshold, so short covers dominate any hot cell.
            r2, l2 = salt_sides(r2.join(hot, "cell", "left"),
                                l2.join(hot, "cell", "left"),
                                F.col("_hot"), s, "b_seg")
            long_keys = ["cell", "_salt"]
        else:
            long_keys = ["cell"]
        sw = F.col("a_seg") > F.col("b_seg")

        def _flip(ac: str, bc: str, out: str) -> Column:
            return F.when(sw, F.col(bc)).otherwise(F.col(ac)).alias(out)

        longc = (l2.join(r2, long_keys)
                 .filter(F.col("a_seg") != F.col("b_seg"))
                 .filter(_bbox_gap2() <= F.lit(gap * gap))
                 # canonical orientation (ids AND coords together: the
                 # distance is symmetric, but float-exactness across
                 # engines pins the a<b evaluation order)
                 .select(_flip("a_seg", "b_seg", "a_seg"),
                         _flip("b_seg", "a_seg", "b_seg"),
                         *[_flip(f"a{c}", f"b{c}", f"a{c}") for c in _COORDS],
                         *[_flip(f"b{c}", f"a{c}", f"b{c}") for c in _COORDS])
                 .dropDuplicates(["a_seg", "b_seg"]))
        uniq = uniq.unionByName(longc)

    # exact refine as Catalyst expressions — the whole ε-join is one
    # shuffle of whole-stage-codegen'd stages, zero Python (plus, only
    # when long segments exist, the second join and its minority distinct)
    refined = (with_traclus_dist(uniq, params.w_perp, params.w_par, params.w_ang)
               if metric == "traclus"
               else uniq.withColumn("dist", hausdorff_dist_expr()))
    # OPTIMIZER BARRIER before the ε filter. Without it, filter
    # pushdown substitutes the staged refine columns into the `dist ≤ ε`
    # condition and pushes the fully-flattened TRACLUS tree INTO THE
    # JOIN CONDITION — a 169 KB expression (measured) whose generated
    # method blows Janino's 64 KB limit, so every execution paid a ~2 s
    # failed whole-stage compile and then ran the stage unfused
    # (profiled: refine+count 4–10 s with the push vs 2.6 s unfused vs
    # sub-second for the join alone). The staged-projection design
    # exists precisely to evaluate each intermediate once; the push
    # undid it exponentially.
    #
    # The barrier: redefine `dist` as shuffle(array(dist))[0] — a
    # permutation of a ONE-element array, so the VALUE is bitwise
    # unchanged — whose `shuffle` marks the alias NON-DETERMINISTIC.
    # Substituting a nondeterministic alias into a pushed-down predicate
    # would duplicate its evaluation, which the optimizer (correctly)
    # refuses, so the filter stays above the projection chain and each
    # staged column is computed once (verified: join condition back to
    # ~4 KB of prefilters, no Janino failure). Gentler forms do NOT
    # survive Spark 4.1's optimizer: `+ rand()*0.0` is simplified away,
    # and even a nondeterministic filter CONDITION is now pushed through
    # deterministic projects — only a nondeterministic ALIAS blocks the
    # substitution. Guide §4.4's "stop the optimizer duplicating the
    # expensive expression" pattern, applied to a pure-Catalyst column.
    refined = refined.withColumn(
        "dist", F.shuffle(F.array(F.col("dist")))[0])
    return (refined
            .filter(F.col("dist") <= F.lit(params.eps))
            .select("a_seg", "b_seg", "dist"))


def knn_join(probes: DataFrame, base: DataFrame, k: int,
             params: IMCParams | None = None, metric: str = "traclus",
             max_rounds: int = 6) -> DataFrame:
    """k nearest base segments per probe segment (SURVEY.md §2.4).

    Bounded expanding-radius search, no full-base broadcast anywhere:
    round i joins the probes' bbox covers expanded by R_i (R_0 = gap_bound,
    ×4 per round) against the base's unexpanded covers. Survivors of the
    responsible-cell filter are exactly the base segments with per-axis
    bbox gap ≤ R. A probe SETTLES when it has ≥ k candidates and
    gbf · d_k ≤ R (gbf = gap_bound/ε): any segment outside the covered
    radius has bbox gap > R, hence dist ≥ gap/gbf > d_k — so the top-k is
    final. Unsettled probes (including zero-candidate ones, which a plain
    candidate-count would miss) re-join at 4R.

    EXACTNESS BOUND: results are provably exact for every probe whose k-th
    neighbor lies within R_max = 4^(max_rounds−1) · gap_bound (≈ 2.5 km at
    defaults — far beyond any venue). Probes still unsettled at R_max emit
    whatever top-k they have (possibly fewer than k rows, or none when no
    candidate is reachable at all, e.g. k larger than the probe's entire
    connected neighborhood) — their rows carry settled=false (r5, VERDICT
    r04 #4: silent partial top-k was indistinguishable from exact; a
    consumer can now route truncated probes to a wider re-query). Rows
    from provably-exact probes carry settled=true. A probe's cover grows
    O((R/g)²) cells, so R_max also caps the cost of pathological probes.

    Ranking ties break on (round(dist, 6), b_seg) so results are stable
    across engines computing dist with different-but-close float paths
    (the DuckDB oracle). Returns (a_seg probe, b_seg base, dist, rank,
    settled)."""
    params = params or IMCParams()
    g = params.join_cell
    gbf = params.gap_bound / params.eps

    a_cols = [F.col(c).alias(f"a{c}") for c in _COORDS]
    b_cols = [F.col(c).alias(f"b{c}") for c in _COORDS]
    base_cov = (_bbox_cover(fan_out(base.select("seg_id", *_COORDS),
                                    "seg_id"), g, 0.0)
                .select(F.col("seg_id").alias("b_seg"), *b_cols, "cell")
                .localCheckpoint(eager=True))
    remaining = (fan_out(probes.select("seg_id", *_COORDS), "seg_id")
                 .select(F.col("seg_id").alias("a_seg"), *a_cols)
                 .localCheckpoint(eager=True))

    def refine(df: DataFrame) -> DataFrame:
        if metric == "traclus":
            return with_traclus_dist(df, params.w_perp, params.w_par, params.w_ang)
        return df.withColumn("dist", hausdorff_dist_expr())

    w = Window.partitionBy("a_seg").orderBy(F.round("dist", 6), "b_seg")

    out: DataFrame | None = None
    R = params.gap_bound
    for rnd in range(max_rounds):
        p_cov = _bbox_cover(remaining, g, R, prefix="a")
        cand = (p_cov.join(base_cov, "cell")
                .filter(F.col("a_seg") != F.col("b_seg"))
                # asymmetric responsible cell (probe expanded by R, base by 0)
                .filter(F.col("cell") == _responsible_cell_expr(g, R, 0.0)))
        topk = (refine(cand)
                .withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select("a_seg", "b_seg", "dist", "rank")
                .localCheckpoint(eager=True))
        last = rnd == max_rounds - 1
        stats = topk.groupBy("a_seg").agg(F.count("*").alias("_n"),
                                          F.max("dist").alias("_dmax"))
        proven = (stats.filter((F.col("_n") >= k)
                               & (F.col("_dmax") * gbf <= F.lit(R)))
                  .select("a_seg"))
        if last:
            # emit every remaining probe's partial top-k, flagged: rows of
            # provably-exact probes settled=true, R_max-truncated ones
            # settled=false (a zero-candidate probe still emits nothing —
            # there is no row to flag; documented above)
            got = (topk.join(proven.withColumn("_s", F.lit(True)),
                             "a_seg", "left")
                   .withColumn("settled",
                               F.coalesce(F.col("_s"), F.lit(False)))
                   .drop("_s"))
            leaving = stats.select("a_seg")
        else:
            got = (topk.join(proven, "a_seg", "left_semi")
                   .withColumn("settled", F.lit(True)))
            leaving = proven
        out = got if out is None else out.unionByName(got)
        remaining = (remaining.join(leaving, "a_seg", "left_anti")
                     .localCheckpoint(eager=True))
        if remaining.isEmpty():
            break
        R *= 4.0
    return out


TRAJ_VENUE_STRIDE = VENUE_STRIDE  # single source: imc.config

_TILES_SCHEMA = "tile_id long, venue long, ring array<struct<x:double,y:double>>"


def _tile_edges(tiles: DataFrame) -> DataFrame:
    """Every tile ring as directed edges (tile_id, ev, ex1, ey1, ex2, ey2):
    vertex i to vertex (i + 1) mod |ring|, so the closing edge is implied.
    Horizontal edges are dropped: (ey1 > py) <> (ey2 > py) never holds
    for them, and without them the crossing abscissa never divides by 0."""
    nxt = F.col("ring")[(F.col("i") + 1) % F.size("ring")]
    return (tiles.select(F.col("tile_id").cast("long").alias("tile_id"),
                         F.col("venue").cast("long").alias("ev"), "ring",
                         F.posexplode("ring").alias("i", "p"))
            .select("tile_id", "ev",
                    F.col("p.x").alias("ex1"), F.col("p.y").alias("ey1"),
                    nxt["x"].alias("ex2"), nxt["y"].alias("ey2"))
            .filter(F.col("ey1") != F.col("ey2")))


def tile_assignments(segments: DataFrame,
                     tiles: DataFrame | pd.DataFrame) -> DataFrame:
    """Assign each segment's midpoint to the map tile that contains it:
    (seg_id, tile_id), the lowest containing tile_id, -1 when none.

    tiles: a DataFrame or pandas frame with (tile_id, venue, ring
    array<struct<x,y>>). Each midpoint is left-joined to the ring edges of
    its own venue (traj_id div VENUE_STRIDE) under the even-odd crossing
    predicate — the operation order of kernels.point_in_polygon and of the
    imc_tile_assignments oracle — and one aggregate per seg_id keeps the
    tiles crossed an odd number of times. It is one Catalyst plan: the
    planner broadcasts a small edge table (the "broadcast of small polygon
    sets") and shuffle-joins on venue otherwise."""
    if isinstance(tiles, pd.DataFrame):
        tiles = segments.sparkSession.createDataFrame(
            tiles[["tile_id", "venue", "ring"]], _TILES_SCHEMA)
    px, py = F.col("px"), F.col("py")
    ex1, ey1, ex2, ey2 = (F.col(c) for c in ("ex1", "ey1", "ex2", "ey2"))
    crosses = (((ey1 > py) != (ey2 > py))
               & (px < ex1 + (py - ey1) / (ey2 - ey1) * (ex2 - ex1)))
    segs = segments.select(
        "seg_id", F.expr(f"traj_id div {TRAJ_VENUE_STRIDE}").alias("venue"),
        ((F.col("x1") + F.col("x2")) / 2.0).alias("px"),
        ((F.col("y1") + F.col("y2")) / 2.0).alias("py"))
    hits = segs.join(_tile_edges(tiles),
                     (F.col("venue") == F.col("ev")) & crosses, "left")
    t = F.col("t")
    odd = F.filter(t, lambda a: F.size(F.filter(t, lambda b: b == a)) % 2 == 1)
    return (hits.groupBy("seg_id").agg(F.collect_list("tile_id").alias("t"))
            .select("seg_id", F.coalesce(F.array_min(odd), F.lit(-1).cast("long"))
                    .alias("tile_id")))
