"""PIP overlay join parity: Spark clip/erase vs numpy oracle."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from whitebox_tools_spark import derive
from whitebox_tools_spark.kernels.geometry import points_in_polygon_feature
from whitebox_tools_spark.operators.pip import clip_points, tag_polygon
from whitebox_tools_spark.sources.docs import check_span_equality, synth_docs
from whitebox_tools_spark.sources.vectors import exotic_layer, rect_layer


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
    for mode in ("last_wins", "shell_then_hole"):
        got = {
            r["doc_num"]
            for r in clip_points(df, exotic_layer(), "semi", part_mode=mode)
            .select("doc_num")
            .collect()
        }
        expect = _oracle_membership(x, y, exotic_layer(), mode)
        assert got == set(ids[expect].tolist()), mode


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


def test_expr_and_arrow_strategies_agree(spark):
    """The codegen expression path and the Arrow kernel path implement the
    same semantics — every point, both part modes, exotic geometry."""
    n = 800
    docs = derive.with_geometry(synth_docs(spark, n), "doc_num").select(
        "doc_num", (F.col("x") / 6.0).alias("x"), (F.col("y") / 6.0).alias("y")
    )  # compress into the exotic layer's [0,170)x[0,70) neighbourhood
    for layer in (rect_layer(), exotic_layer()):
        for part_mode in ("last_wins", "shell_then_hole"):
            e = {
                r["doc_num"]
                for r in clip_points(
                    docs, layer, "semi", part_mode, strategy="expr"
                ).select("doc_num").collect()
            }
            a = {
                r["doc_num"]
                for r in clip_points(
                    docs, layer, "semi", part_mode, strategy="arrow"
                ).select("doc_num").collect()
            }
            assert e == a, (part_mode, len(e), len(a))
            te = {
                (r["doc_num"], r["poly_fid"])
                for r in tag_polygon(docs, layer, part_mode, strategy="expr").select(
                    "doc_num", "poly_fid"
                ).collect()
            }
            ta = {
                (r["doc_num"], r["poly_fid"])
                for r in tag_polygon(docs, layer, part_mode, strategy="arrow").select(
                    "doc_num", "poly_fid"
                ).collect()
            }
            assert te == ta


def test_cells_strategy_agrees(spark):
    """The cell-join (no-broadcast) path matches the arrow path exactly —
    both layers, both part modes, clip and tag."""
    n = 800
    docs = derive.with_geometry(synth_docs(spark, n), "doc_num").select(
        "doc_num", (F.col("x") / 6.0).alias("x"), (F.col("y") / 6.0).alias("y")
    )
    for layer in (rect_layer(), exotic_layer()):
        for part_mode in ("last_wins", "shell_then_hole"):
            a = {
                r["doc_num"]
                for r in clip_points(
                    docs, layer, "semi", part_mode, strategy="arrow"
                ).select("doc_num").collect()
            }
            c = {
                r["doc_num"]
                for r in clip_points(
                    docs, layer, "semi", part_mode, strategy="cells"
                ).select("doc_num").collect()
            }
            assert a == c, (part_mode, len(a), len(c))
            ta = {
                (r["doc_num"], r["poly_fid"])
                for r in tag_polygon(docs, layer, part_mode, strategy="arrow").select(
                    "doc_num", "poly_fid"
                ).collect()
            }
            tc = {
                (r["doc_num"], r["poly_fid"])
                for r in tag_polygon(docs, layer, part_mode, strategy="cells").select(
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
