"""Polygon paint, raster clip and the shell_then_hole tag against one
oracle: the VectorPolygonsToRaster rule (vector_polygons_to_raster.rs:
386-560), written here from the bare ``point_in_poly`` kernel. A point
takes the LAST record whose shells hold it and whose own holes do not;
boundary points are outside."""

import math

import numpy as np
import pytest

from whitebox_tools_spark.kernels.geometry import point_in_poly
from whitebox_tools_spark.operators.gridding import GridConfig
from whitebox_tools_spark.operators.pip import EXPR_MAX_VERTICES, tag_polygon
from whitebox_tools_spark.operators.raster import clip_raster_to_polygon, polygons_to_raster
from whitebox_tools_spark.sources.vectors import PolygonFeature, rect_ring


def _hand_layer():
    """Two overlapping shells, the later one with a hole over part of the
    overlap; a multipart record whose parts share an edge, one part with
    a hole; a triangle with diagonal edges over both squares. Record
    fids are out of order and record 2 has no ``zone`` attribute."""
    tri = np.array([[8.0, -2.0], [16.0, 6.0], [16.0, -2.0], [8.0, -2.0]])
    return [
        PolygonFeature(7, [rect_ring(0, 0, 10, 10)], [False], {"zone": 100.0}),
        PolygonFeature(
            3, [rect_ring(5, 5, 15, 15), rect_ring(6, 6, 9, 9, hole=True)], [False, True],
            {"zone": 200.0},
        ),
        PolygonFeature(
            9,
            [rect_ring(20, 0, 25, 5), rect_ring(25, 0, 28, 3), rect_ring(21, 1, 23, 3, hole=True)],
            [False, False, True],
        ),
        PolygonFeature(11, [tri], [False], {"zone": 400.0}),
    ]


def _star(cx, cy, r0, n):
    ang = np.linspace(0, 2 * math.pi, n, endpoint=False)
    r = r0 * (1 + 0.3 * np.cos(7 * ang))
    ring = np.stack([cx + r * np.cos(ang), cy + r * np.sin(ang)], axis=1)
    return np.vstack([ring, ring[:1]])


def _big_layer():
    """Three records of 160-vertex stars (one with a star hole) that
    overlap: past EXPR_MAX_VERTICES, so 'auto' takes the Arrow path."""
    layer = [
        PolygonFeature(1, [_star(40, 45, 30, 160)], [False], {"zone": 10.0}),
        PolygonFeature(
            2, [_star(62, 55, 28, 160), _star(55, 50, 10, 160)], [False, True], {"zone": 20.0}
        ),
        PolygonFeature(3, [_star(50, 30, 15, 160)], [False], {"zone": 30.0}),
    ]
    assert sum(len(r) for f in layer for r in f.rings) > EXPR_MAX_VERTICES
    return layer


# (layer, grid): the hand grid's cell centres fall on every integer and
# half-integer coordinate, so many sit exactly on edges and vertices
CASES = {
    "hand": (_hand_layer, GridConfig(39, 75, north=16.25, west=-1.25, res_x=0.5, res_y=0.5)),
    "big": (_big_layer, GridConfig(48, 50, north=96.0, west=4.0, res_x=2.0, res_y=2.0)),
}


def _oracle(px, py, layer):
    """Record index painting each point, -1 if none."""
    win = np.full(len(px), -1)
    for i, feat in enumerate(layer):
        shell = np.zeros(len(px), dtype=bool)
        hole = np.zeros(len(px), dtype=bool)
        for ring, is_hole in zip(feat.rings, feat.holes):
            hit = point_in_poly(px, py, ring)
            if is_hole:
                hole |= hit
            else:
                shell |= hit
        win[shell & ~hole] = i
    return win


@pytest.mark.parametrize("strategy", ["expr", "arrow", "cells"])
def test_shell_then_hole_tag_is_the_paint_rule(spark, strategy):
    layer = _hand_layer()
    xs, ys = np.meshgrid(np.arange(-1.0, 36.5, 0.5), np.arange(-3.0, 16.5, 0.5))
    px, py = xs.ravel(), ys.ravel()
    df = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(px, py))],
        "id long, x double, y double",
    )
    got = {
        r["id"]: r["poly_fid"]
        for r in tag_polygon(df, layer, "shell_then_hole", strategy=strategy).collect()
    }
    win = _oracle(px, py, layer)
    fids = np.array([f.fid for f in layer])
    assert got == {i: (int(fids[w]) if w >= 0 else None) for i, w in enumerate(win)}
    # the later record wins the overlap outside its hole, the earlier
    # one inside that hole
    at = {(a, b): i for i, (a, b) in enumerate(zip(px, py))}
    assert (got[at[9.5, 9.5]], got[at[7.5, 7.5]]) == (3, 7)


@pytest.mark.parametrize("case", sorted(CASES))
def test_paint_clip_erase_match_the_rule(spark, case):
    make, cfg = CASES[case]
    layer = make()
    row, col = np.divmod(np.arange(cfg.rows * cfg.cols), cfg.cols)

    paint_x = cfg.west + (col + 0.5) * cfg.res_x
    paint_y = cfg.north - (row + 0.5) * cfg.res_y
    win = _oracle(paint_x, paint_y, layer)
    vals = [float(f.attrs.get("zone", f.fid)) for f in layer]
    expect = {(int(r), int(c), vals[w]) for r, c, w in zip(row, col, win) if w >= 0}
    got = polygons_to_raster(spark, layer, cfg).collect()
    assert {(r["row"], r["col"], r["value"]) for r in got} == expect
    assert len(set(win[win >= 0])) == len(layer)  # every record paints somewhere

    raster = spark.createDataFrame(
        [(int(r), int(c), float(r * 1000 + c)) for r, c in zip(row, col)],
        "row long, col long, value double",
    )
    clip_x = cfg.west + cfg.res_x / 2.0 + col * cfg.res_x
    clip_y = cfg.north - cfg.res_y / 2.0 - row * cfg.res_y
    inside = _oracle(clip_x, clip_y, layer) >= 0
    cells = {(int(r), int(c), float(r * 1000 + c)) for r, c in zip(row, col)}
    kept = {(int(r), int(c), float(r * 1000 + c)) for r, c in zip(row[inside], col[inside])}
    for erase, want in ((False, kept), (True, cells - kept)):
        out = clip_raster_to_polygon(raster, layer, cfg, erase=erase)
        assert out.columns == ["row", "col", "value"]
        assert {(r["row"], r["col"], r["value"]) for r in out.collect()} == want, erase


def test_empty_layer_paints_nothing_and_erases_nothing(spark):
    cfg = CASES["hand"][1]
    raster = spark.range(10).selectExpr("id AS row", "id AS col", "1.0 AS value")
    assert polygons_to_raster(spark, [], cfg).count() == 0
    assert clip_raster_to_polygon(raster, [], cfg).count() == 0
    assert clip_raster_to_polygon(raster, [], cfg, erase=True).count() == 10
