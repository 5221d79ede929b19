"""PIP overlay join parity: Spark clip/erase vs numpy oracle."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from whitebox_tools_spark import derive
from whitebox_tools_spark.kernels.geometry import point_in_poly, points_in_polygon_feature
from whitebox_tools_spark.operators.pip import clip_points, tag_polygon
from whitebox_tools_spark.sources.docs import check_span_equality, synth_docs
from whitebox_tools_spark.sources.vectors import (
    PolygonFeature,
    exotic_layer,
    rect_layer,
    rect_ring,
)

STRATEGIES = ("expr", "arrow", "cells")


def _hand_layer():
    """A layer that tells the three rules apart, vertices on a 0.5
    lattice: (a) fid 8 lists its hole before its shell; (b) fid 2's hole
    lies over fid 4's shell; (c) fid 6's hole lies outside its own shell,
    over fid 8's and fid 2's shells. fid 2's shell has diagonal edges."""
    pent = np.array([[2, 2], [2, 8], [7, 10.5], [12, 8], [12, 2], [2, 2]], dtype=np.float64)
    return [
        PolygonFeature(4, [rect_ring(0, 0, 6, 6)], [False]),
        PolygonFeature(
            8, [rect_ring(9, 1, 11, 3, hole=True), rect_ring(8, 0, 14, 6)], [True, False]
        ),
        PolygonFeature(2, [pent, rect_ring(3, 3, 5.5, 5.5, hole=True)], [False, True]),
        PolygonFeature(
            6, [rect_ring(15, 0, 19.5, 5), rect_ring(11, 4, 13.5, 8, hole=True)], [False, True]
        ),
    ]


def _lattice_df(spark):
    """(ids, x, y, frame) of points on the hand layer's 0.5 lattice, so
    many sit on its edges and vertices."""
    xs, ys = np.meshgrid(np.arange(-0.5, 20.5, 0.5), np.arange(-0.5, 11.5, 0.5))
    x, y = xs.ravel(), ys.ravel()
    df = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(x, y))],
        "doc_num long, x double, y double",
    )
    return np.arange(len(x)), x, y, df


def _oracle_last_wins_tag(x, y, layer):
    """Clip's tag: every ring in (record, ring) order; the last ring hit
    decides, its fid or None if it is a hole."""
    tag = [None] * len(x)
    for feat in layer:
        for ring, hole in zip(feat.rings, feat.holes):
            for i in np.nonzero(point_in_poly(x, y, ring))[0]:
                tag[i] = None if hole else feat.fid
    return tag


def _oracle_membership(x, y, layer, mode):
    inside = np.zeros(len(x), dtype=bool)
    if mode == "last_wins":
        for feat in layer:
            for ring, hole in zip(feat.rings, feat.holes):
                hit = points_in_polygon_feature(x, y, [ring], [False])
                inside = np.where(hit, not hole, inside)
        return inside
    for feat in layer:
        shell = points_in_polygon_feature(
            x, y, feat.rings, feat.holes, mode="shell_then_hole"
        )
        hole_hit = np.zeros(len(x), dtype=bool)
        for ring, hole in zip(feat.rings, feat.holes):
            if hole:
                hole_hit |= points_in_polygon_feature(x, y, [ring], [False])
        inside = np.where(hole_hit, False, np.where(shell, True, inside))
    return inside


def test_clip_semi_rect_layer(spark):
    n = 2000
    docs = derive.with_geometry(synth_docs(spark, n), "doc_num")
    got = {r["doc_num"] for r in clip_points(docs, rect_layer()).select("doc_num").collect()}

    ids = np.arange(n)
    x, y = derive.np_coord(ids, "x"), derive.np_coord(ids, "y")
    expect_mask = _oracle_membership(x, y, rect_layer(), "last_wins")
    assert got == set(ids[expect_mask].tolist())
    assert 0 < len(got) < n  # fixture actually selects something


def test_erase_is_complement(spark):
    n = 500
    docs = derive.with_geometry(synth_docs(spark, n), "doc_num")
    semi = {r["doc_num"] for r in clip_points(docs, rect_layer(), "semi").select("doc_num").collect()}
    anti = {r["doc_num"] for r in clip_points(docs, rect_layer(), "anti").select("doc_num").collect()}
    assert semi | anti == set(range(n))
    assert semi & anti == set()


def test_hole_excluded(spark):
    rows = [(0, 650.0, 600.0), (1, 550.0, 500.0), (2, 10.0, 10.0)]
    df = spark.createDataFrame(rows, "doc_num long, x double, y double")
    got = {r["doc_num"] for r in clip_points(df, rect_layer()).collect()}
    # doc 0 is in fid=2's hole -> excluded; doc 1 inside shell; doc 2 outside
    assert got == {1}


def test_exotic_layer_modes_match_oracle(spark):
    n = 3000
    # scale derived coords down into the exotic layer's extent
    ids = np.arange(n)
    x = derive.np_coord(ids, "x") / 1000.0 * 170.0
    y = derive.np_coord(ids, "y") / 1000.0 * 80.0
    pdf = [(int(i), float(a), float(b)) for i, a, b in zip(ids, x, y)]
    df = spark.createDataFrame(pdf, "doc_num long, x double, y double")
    hand = (_hand_layer(), *_lattice_df(spark))
    for layer, ids, x, y, df in ((exotic_layer(), ids, x, y, df), hand):
        for mode in ("last_wins", "shell_then_hole"):
            got = {
                r["doc_num"]
                for r in clip_points(df, layer, "semi", part_mode=mode)
                .select("doc_num")
                .collect()
            }
            expect = _oracle_membership(x, y, layer, mode)
            assert got == set(ids[expect].tolist()), mode
        tag = {r["doc_num"]: r["poly_fid"] for r in tag_polygon(df, layer).collect()}
        assert tag == dict(enumerate(_oracle_last_wins_tag(x, y, layer)))


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_hand_layer_separates_the_three_rules(spark, strategy):
    """At these points Clip, ClipLidarToPolygon and VectorPolygonsToRaster
    give three different answers (fid 8's leading hole; fid 2's hole over
    fid 4; fid 6's hole outside its own shell over fid 8)."""
    pts = [(0, 10.0, 1.5), (1, 4.0, 4.0), (2, 12.5, 5.0), (3, 1.0, 1.0)]
    df = spark.createDataFrame(pts, "doc_num long, x double, y double")
    layer = _hand_layer()

    def tag(part_mode):
        out = tag_polygon(df, layer, part_mode, strategy=strategy).collect()
        return {r["doc_num"]: r["poly_fid"] for r in out}

    def clip(part_mode, mode):
        out = clip_points(df, layer, mode, part_mode, strategy=strategy).collect()
        return {r["doc_num"] for r in out}

    assert tag("last_wins") == {0: 8, 1: None, 2: None, 3: 4}
    assert tag("shell_then_hole") == {0: None, 1: 4, 2: 8, 3: 4}
    assert (clip("last_wins", "semi"), clip("last_wins", "anti")) == ({0, 3}, {1, 2})
    assert (clip("shell_then_hole", "semi"), clip("shell_then_hole", "anti")) == ({3}, {0, 1, 2})


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_negative_and_zero_fids_tag(spark, strategy):
    """Every fid value is a tag: fid -1 and fid 0 tag and clip like any
    other, on every strategy."""
    layer = [
        PolygonFeature(-1, [rect_ring(0, 0, 10, 10)], [False]),
        PolygonFeature(0, [rect_ring(20, 0, 30, 10)], [False]),
    ]
    df = spark.createDataFrame(
        [(0, 5.0, 5.0), (1, 25.0, 5.0), (2, 15.0, 5.0)], "doc_num long, x double, y double"
    )
    for part_mode in ("last_wins", "shell_then_hole"):
        out = tag_polygon(df, layer, part_mode, strategy=strategy).collect()
        assert {r["doc_num"]: r["poly_fid"] for r in out} == {0: -1, 1: 0, 2: None}, part_mode
        for mode, want in (("semi", {0, 1}), ("anti", {2})):
            out = clip_points(df, layer, mode, part_mode, strategy=strategy).collect()
            assert {r["doc_num"] for r in out} == want, (part_mode, mode)


def test_tag_polygon(spark):
    rows = [(0, 650.0, 600.0), (1, 550.0, 500.0), (2, 150.0, 200.0), (3, 950.0, 50.0)]
    df = spark.createDataFrame(rows, "doc_num long, x double, y double")
    got = {r["doc_num"]: r["poly_fid"] for r in tag_polygon(df, rect_layer()).collect()}
    assert got == {0: None, 1: 2, 2: 1, 3: None}


def test_spans_preserved_through_clip(spark):
    docs = synth_docs(spark, 400)
    for strategy in ("auto", "arrow"):
        out = clip_points(derive.with_geometry(docs, "doc_num"), rect_layer(), strategy=strategy)
        assert out.count() > 0, strategy
        assert check_span_equality(docs, out) == 0, strategy


def test_null_coordinates_are_in_no_polygon(spark):
    rows = [(0, None, 500.0), (1, 550.0, 500.0)]
    df = spark.createDataFrame(rows, "doc_num long, x double, y double")
    for strategy in ("expr", "arrow"):
        tag = tag_polygon(df, rect_layer(), strategy=strategy).collect()
        assert {r["doc_num"]: r["poly_fid"] for r in tag} == {0: None, 1: 2}, strategy
        semi, anti = (
            {r["doc_num"] for r in clip_points(df, rect_layer(), mode, strategy=strategy).collect()}
            for mode in ("semi", "anti")
        )
        assert (semi, anti) == ({1}, {0}), strategy


def test_unknown_strategy_is_rejected(spark):
    df = spark.createDataFrame([(0, 550.0, 500.0)], "doc_num long, x double, y double")
    for call in (clip_points, tag_polygon):
        with pytest.raises(ValueError, match="auto, expr, arrow, cells"):
            call(df, rect_layer(), strategy="arow")
    for strategy in ("auto",) + STRATEGIES:
        with pytest.raises(ValueError, match="last_wins, shell_then_hole"):
            clip_points(df, rect_layer(), "semi", "shell_then_holes", strategy=strategy)
        with pytest.raises(ValueError, match="last_wins, shell_then_hole"):
            tag_polygon(df, rect_layer(), "lastwins", strategy=strategy)
        for mode in ("Semi", "semi ", "inside"):
            with pytest.raises(ValueError, match="semi, anti"):
                clip_points(df, rect_layer(), mode, strategy=strategy)


def test_expr_and_arrow_strategies_agree(spark):
    """The codegen expression path and the Arrow kernel path implement the
    same semantics — every point, both part modes, exotic geometry and
    the hand layer's lattice."""
    n = 800
    docs = derive.with_geometry(synth_docs(spark, n), "doc_num").select(
        "doc_num", (F.col("x") / 6.0).alias("x"), (F.col("y") / 6.0).alias("y")
    )  # compress into the exotic layer's [0,170)x[0,70) neighbourhood
    hand = _lattice_df(spark)[3]
    for layer, pts in ((rect_layer(), docs), (exotic_layer(), docs), (_hand_layer(), hand)):
        for part_mode in ("last_wins", "shell_then_hole"):
            e = {
                r["doc_num"]
                for r in clip_points(
                    pts, layer, "semi", part_mode, strategy="expr"
                ).select("doc_num").collect()
            }
            a = {
                r["doc_num"]
                for r in clip_points(
                    pts, layer, "semi", part_mode, strategy="arrow"
                ).select("doc_num").collect()
            }
            assert e == a, (part_mode, len(e), len(a))
            te = {
                (r["doc_num"], r["poly_fid"])
                for r in tag_polygon(pts, layer, part_mode, strategy="expr").select(
                    "doc_num", "poly_fid"
                ).collect()
            }
            ta = {
                (r["doc_num"], r["poly_fid"])
                for r in tag_polygon(pts, layer, part_mode, strategy="arrow").select(
                    "doc_num", "poly_fid"
                ).collect()
            }
            assert te == ta


def test_cells_strategy_agrees(spark):
    """The cell-join (no-broadcast) path matches the arrow path exactly —
    every layer, both part modes, clip and tag."""
    n = 800
    docs = derive.with_geometry(synth_docs(spark, n), "doc_num").select(
        "doc_num", (F.col("x") / 6.0).alias("x"), (F.col("y") / 6.0).alias("y")
    )
    hand = _lattice_df(spark)[3]
    for layer, pts in ((rect_layer(), docs), (exotic_layer(), docs), (_hand_layer(), hand)):
        for part_mode in ("last_wins", "shell_then_hole"):
            a = {
                r["doc_num"]
                for r in clip_points(
                    pts, layer, "semi", part_mode, strategy="arrow"
                ).select("doc_num").collect()
            }
            c = {
                r["doc_num"]
                for r in clip_points(
                    pts, layer, "semi", part_mode, strategy="cells"
                ).select("doc_num").collect()
            }
            assert a == c, (part_mode, len(a), len(c))
            ta = {
                (r["doc_num"], r["poly_fid"])
                for r in tag_polygon(pts, layer, part_mode, strategy="arrow").select(
                    "doc_num", "poly_fid"
                ).collect()
            }
            tc = {
                (r["doc_num"], r["poly_fid"])
                for r in tag_polygon(pts, layer, part_mode, strategy="cells").select(
                    "doc_num", "poly_fid"
                ).collect()
            }
            assert ta == tc, part_mode


def test_big_layer_auto_avoids_codegen_ceiling(spark):
    """A layer beyond EXPR_MAX_VERTICES must auto-route to the arrow path
    (no janino 64 KB hazard) and agree with the cells path."""
    import math as _m

    from whitebox_tools_spark.operators.pip import EXPR_MAX_VERTICES, _layer_vertices
    from whitebox_tools_spark.sources.vectors import PolygonFeature

    rng = np.random.RandomState(11)
    feats = []
    for f in range(8):
        cx, cy = rng.uniform(150, 850, 2)
        ang = np.linspace(0, 2 * _m.pi, 256, endpoint=False)
        r = 60 + 40 * np.cos(5 * ang)
        ring = np.stack([cx + r * np.cos(ang), cy + r * np.sin(ang)], axis=1)
        ring = np.vstack([ring, ring[:1]])
        feats.append(PolygonFeature(fid=f, rings=[ring], holes=[False]))
    assert _layer_vertices(feats) > EXPR_MAX_VERTICES

    docs = derive.with_geometry(synth_docs(spark, 1500), "doc_num")
    auto = {
        r["doc_num"]
        for r in clip_points(docs, feats).select("doc_num").collect()
    }
    cells = {
        r["doc_num"]
        for r in clip_points(docs, feats, strategy="cells").select("doc_num").collect()
    }
    assert auto == cells
    assert 0 < len(auto) < 1500
