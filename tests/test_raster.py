"""Raster↔vector tests (SURVEY.md §5.2-4): round-trip IoU == 1, component
labeling, Spark rasterize vs scalar traversal."""

import numpy as np
import pytest

from fixtures import gen_pages
from imc import extract, raster, rasterops, segments
from imc.config import IMCParams

PARAMS = IMCParams()


def test_mask_roundtrip_exact_simple():
    mask = np.zeros((12, 12), dtype=bool)
    mask[2:10, 3:5] = True          # horizontal bar
    mask[4:6, 3:11] = True          # crossing bar
    rings = rasterops.mask_to_rings(mask)
    back = rasterops.fill_rings(rings, mask.shape)
    np.testing.assert_array_equal(back, mask)


def test_mask_roundtrip_with_hole_and_multi():
    mask = np.zeros((16, 16), dtype=bool)
    mask[1:8, 1:8] = True
    mask[3:5, 3:5] = False          # hole
    mask[10:14, 10:12] = True       # second component
    rings = rasterops.mask_to_rings(mask)
    outers = [r for r in rings if r[2]]
    holes = [r for r in rings if not r[2]]
    assert len(outers) == 2
    assert len(holes) == 1
    back = rasterops.fill_rings(rings, mask.shape)
    np.testing.assert_array_equal(back, mask)


def test_mask_roundtrip_random():
    rng = np.random.default_rng(3)
    for _ in range(20):
        mask = rng.random((14, 14)) < 0.45
        rings = rasterops.mask_to_rings(mask)
        back = rasterops.fill_rings(rings, mask.shape)
        np.testing.assert_array_equal(back, mask)


def test_label_components():
    mask = np.array([[1, 0, 1], [1, 0, 0], [0, 0, 1]], dtype=bool)
    lab = rasterops.label_components(mask)
    assert lab[0, 0] == lab[1, 0]
    assert lab[0, 2] not in (0, lab[0, 0])
    assert len({lab[0, 0], lab[0, 2], lab[2, 2]}) == 3


def _flood_fill_labels(mask):
    """Reference: per-cell stack flood fill, components numbered 1..k in
    the scan order of their first cell."""
    nx, ny = mask.shape
    labels = np.zeros((nx, ny), dtype=np.int32)
    nxt = 0
    for ix in range(nx):
        for iy in range(ny):
            if mask[ix, iy] and labels[ix, iy] == 0:
                nxt += 1
                stack = [(ix, iy)]
                labels[ix, iy] = nxt
                while stack:
                    cx, cy = stack.pop()
                    for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                        px, py = cx + dx, cy + dy
                        if 0 <= px < nx and 0 <= py < ny and mask[px, py] \
                                and labels[px, py] == 0:
                            labels[px, py] = nxt
                            stack.append((px, py))
    return labels


def test_label_components_matches_flood_fill():
    rng = np.random.default_rng(11)
    masks = [np.zeros((3, 4), dtype=bool), np.ones((5, 1), dtype=bool)]
    for _ in range(60):
        nx, ny = rng.integers(1, 40, size=2)
        masks.append(rng.random((nx, ny)) < rng.uniform(0.2, 0.8))
    for mask in masks:
        got = rasterops.label_components(mask)
        assert got.dtype == np.int32
        np.testing.assert_array_equal(got, _flood_fill_labels(mask))


@pytest.mark.usefixtures("spark")
def test_rasterize_and_polygons_on_fixture(spark):
    path = gen_pages.ensure_pages(sf=0.001)
    pages = spark.read.parquet(path)
    pts = extract.pages_to_points(pages)
    seg_df = segments.mdl_segments(pts)
    rast = raster.rasterize(seg_df, PARAMS)
    rpdf = rast.toPandas()
    assert (rpdf["venue"] == 0).all()
    assert rpdf["hits"].sum() > 0
    # hits concentrated near corridors: every hit cell center within
    # corridor half width + noise of a truth edge
    truth = gen_pages.venue_truth()
    edges = truth[["x1", "y1", "x2", "y2"]].to_numpy(np.float64)
    from imc.kernels import point_segment_distance
    cx = (rpdf["gx"].to_numpy() + 0.5) * PARAMS.raster_cell
    cy = (rpdf["gy"].to_numpy() + 0.5) * PARAMS.raster_cell
    dmin = np.full(len(cx), np.inf)
    for e in edges:
        dmin = np.minimum(dmin, point_segment_distance(cx, cy, *e))
    assert (dmin < 2.0).mean() > 0.98

    polys = raster.extract_polygons(rast, PARAMS).toPandas()
    assert len(polys) >= 1
    assert polys["is_outer"].any()
    # polygon vertices land near corridors too
    for _, row in polys[polys["is_outer"]].iterrows():
        vx = np.array([p["x"] for p in row["ring"]])
        vy = np.array([p["y"] for p in row["ring"]])
        dmin = np.full(len(vx), np.inf)
        for e in edges:
            dmin = np.minimum(dmin, point_segment_distance(vx, vy, *e))
        assert dmin.max() < 3.0
