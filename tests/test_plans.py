"""Physical-plan guards: the plans we designed for are the plans Spark
actually picks. Catches regressions like a broadcast turning into a
shuffle join or a filter failing to reach the parquet scan."""

import numpy as np
from pyspark.sql import functions as F

from whitebox_tools_spark import derive
from whitebox_tools_spark.operators import tiling
from whitebox_tools_spark.operators.pip import EXPR_MAX_VERTICES, clip_points, tag_polygon
from whitebox_tools_spark.operators.radius_join import radius_join
from whitebox_tools_spark.session import HUGE_METHOD_LIMIT, huge_stages
from whitebox_tools_spark.sources import vectors
from whitebox_tools_spark.sources.docs import synth_docs
from whitebox_tools_spark.sources.tables import documents

SF_DIR = "/root/testdata/sf0.001"

# physical nodes that evaluate Python
PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _geo(spark):
    return derive.with_geometry(documents(spark, SF_DIR), "doc_id")


def _big_layer():
    """One 300-vertex disc: too large for the expr path, so 'auto' takes
    the Arrow path."""
    ang = np.linspace(0, 2 * np.pi, 300, endpoint=False)
    ring = np.stack([500 + 300 * np.cos(ang), 500 + 300 * np.sin(ang)], axis=1)
    layer = [vectors.PolygonFeature(fid=1, rings=[np.vstack([ring, ring[:1]])], holes=[False])]
    assert sum(len(r) for r in layer[0].rings) > EXPR_MAX_VERTICES
    return layer


class TestPlans:
    def test_pip_clip_is_narrow(self, spark):
        """The broadcast-layer PIP join must be a NARROW map pass — zero
        shuffles over the document table."""
        plan = _plan(clip_points(_geo(spark), vectors.rect_layer(), "semi"))
        assert "Exchange" not in plan, plan

    def test_arrow_pip_ships_only_coordinates(self, spark, tmp_path):
        """The Arrow PIP path is a scalar pandas UDF over (x, y): Spark
        evaluates it in ArrowEvalPython, not as an opaque MapInPandas over
        the whole row, so a projection above it prunes the scan down to
        the column that x and y derive from and ``spans`` is never read.
        The docs are written here rather than read through ``_geo``: a
        geometry frame that another test cached would replace the scan
        with an InMemoryRelation."""
        path = str(tmp_path / "docs")
        synth_docs(spark, 200).write.parquet(path)
        geo = derive.with_geometry(spark.read.parquet(path), "doc_num")
        layer = _big_layer()
        for df in (
            tag_polygon(geo, layer).select("doc_num", "poly_fid"),
            clip_points(geo, layer).select("doc_num"),
        ):
            plan = _plan(df)
            assert "ArrowEvalPython" in plan, plan
            assert "MapInPandas" not in plan, plan
            assert "ReadSchema: struct<doc_num:bigint>" in plan, plan

    def test_small_layer_paint_and_clip_run_no_python(self, spark):
        """Paint, clip and erase over the 20-vertex rect_layer tag cell
        centres on the JVM expression path: no Python node in the plan."""
        from whitebox_tools_spark import api

        for name in ("polygons_raster", "clip_raster", "erase_raster"):
            plan = _plan(api.QUERIES[name](spark, SF_DIR))
            for node in PYTHON_NODES:
                assert node not in plan, (name, node, plan)

    def test_large_layer_paint_and_clip_tag_once(self, spark):
        """Above EXPR_MAX_VERTICES, paint and clip evaluate the Arrow tag
        exactly once per cell: the paint's value join must not push a
        null test of the tag below it, which would run the UDF twice."""
        from whitebox_tools_spark.operators.gridding import GridConfig
        from whitebox_tools_spark.operators.raster import (
            clip_raster_to_polygon,
            polygons_to_raster,
        )

        cfg = GridConfig(rows=20, cols=20, north=1000.0, west=0.0, res_x=50.0, res_y=50.0)
        dem = spark.range(400).selectExpr(
            "id div 20 AS row", "id % 20 AS col", "CAST(id AS DOUBLE) AS value"
        )
        for df in (
            polygons_to_raster(spark, _big_layer(), cfg),
            clip_raster_to_polygon(dem, _big_layer(), cfg),
        ):
            plan = _plan(df)
            assert plan.count("ArrowEvalPython") == 1, plan
            assert "MapInPandas" not in plan, plan

    def test_tile_population_filter_broadcasts_counts(self, spark):
        """The tiny per-tile count table must broadcast back onto the big
        side (BroadcastHashJoin, LeftSemi), never shuffle the doc table a
        second time."""
        df = tiling.lidar_tile(_geo(spark), min_points=2)
        plan = _plan(df)
        assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan

    def test_radius_join_is_single_shuffle_equijoin(self, spark):
        """Cell-key radius join: the probe-side explode happens BEFORE the
        exchange and the join is a plain hash equi-join on the packed key."""
        geo = _geo(spark)
        pts = geo.select(F.col("doc_id").alias("pid"), "x", "y", "z")
        qs = geo.select(F.col("doc_id").alias("qid"), "x", "y")
        plan = _plan(radius_join(pts, qs, 25.0))
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "Generate explode" in plan or "Generate" in plan  # 5x5 neighbour explode

    def test_knn_and_idw_are_lazy_jvm_plans(self, spark):
        """knn_join and idw_grid (whose fallback is a knn_join) are one
        lazy plan each: building them runs no Spark job, and the plan has
        no Python node and no product join."""
        from whitebox_tools_spark.operators.gridding import GridConfig, idw_grid
        from whitebox_tools_spark.operators.radius_join import knn_join

        geo = _geo(spark)
        pts = geo.select(F.col("doc_id").alias("pid"), "x", "y", "z")
        qs = geo.select(F.col("doc_id").alias("qid"), "x", "y")
        cfg = GridConfig(rows=20, cols=20, north=1000.0, west=0.0, res_x=50.0, res_y=50.0)
        sc, group = spark.sparkContext, "knn-idw-build"
        sc.setJobGroup(group, "build knn_join and idw_grid")
        try:
            frames = (knn_join(pts, qs, 4, 25.0), idw_grid(pts, cfg, radius=25.0))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        for df in frames:
            plan = _plan(df)
            for node in ("ArrowEvalPython", "BatchEvalPython", "CartesianProduct",
                         "BroadcastNestedLoopJoin"):
                assert node not in plan, (node, plan)

    def test_projection_pushdown_reaches_scan(self, spark):
        """Column pruning: a 2-column projection must not read the whole
        documents schema."""
        df = documents(spark, SF_DIR).select("doc_id")
        plan = _plan(df)
        assert "ReadSchema: struct<doc_id:bigint>" in plan, plan

    def test_filter_pushdown_reaches_scan(self, spark):
        df = documents(spark, SF_DIR).where(F.col("doc_id") < 100).select("doc_id")
        plan = _plan(df)
        assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)]" in plan, plan

    def test_bbox_joins_are_equijoins(self, spark):
        """The overlay / segment-intersection family must plan as hash
        equi-joins on the grid-cell key — never BroadcastNestedLoopJoin
        or CartesianProduct (the round-1 scale hazard)."""
        from whitebox_tools_spark.operators import cost as cop
        from whitebox_tools_spark.operators import vector_ops as vo
        from whitebox_tools_spark.sources import vectors

        la = spark.createDataFrame(vectors.layer_to_rows(vectors.rect_layer()))
        lb = spark.createDataFrame(vectors.layer_to_rows(vectors.rect_layer_b()))
        l1 = spark.createDataFrame(vectors.line_layer_rows(vectors.LINE_SPECS_1))
        l2 = spark.createDataFrame(vectors.line_layer_rows(vectors.LINE_SPECS_2))
        for df in (
            vo.polygon_overlay_areas(la, lb),
            cop.line_intersections(l1, l2),
            vo.split_with_lines(l1, l2),
        ):
            plan = _plan(df)
            assert "BroadcastNestedLoopJoin" not in plan, plan
            assert "CartesianProduct" not in plan, plan


def _star(n_vertices: int) -> list:
    """One star polygon of ``n_vertices`` total vertices (closing vertex
    included) whose edges all cross: none is horizontal, so the optimizer
    folds none of them away."""
    ang = np.linspace(0, 2 * np.pi, n_vertices - 1, endpoint=False) + 0.1
    rad = np.where(np.arange(n_vertices - 1) % 2 == 0, 300.0, 150.0)
    ring = np.stack([500 + rad * np.cos(ang), 500 + rad * np.sin(ang)], axis=1)
    return [vectors.PolygonFeature(fid=1, rings=[np.vstack([ring, ring[:1]])], holes=[False])]


def _flagship_shape(spark, layer, strategy="auto"):
    """bench.py's flagship: synth docs -> geometry -> LidarTile -> tag ->
    per-(tile, poly) aggregate."""
    geo = derive.with_geometry(synth_docs(spark, 1000, partitions=2), "doc_num")
    tiled = tiling.lidar_tile(geo, min_points=2, extent=None)
    tagged = tag_polygon(tiled, layer, strategy=strategy)
    return tagged.groupBy("tile", "poly_fid").agg(F.count(F.lit(1)).alias("n_docs"))


class TestHugeMethods:
    """HotSpot does not JIT-compile a method above 8000 bytes, so a fused
    stage past that runs interpreted unless Spark's codegen limit sends it
    per operator. These pin the limit and the stages that meet it."""

    def test_session_caps_whole_stage_methods_at_hotspot_limit(self, spark):
        limit = int(spark.conf.get("spark.sql.codegen.hugeMethodLimit"))
        assert limit == HUGE_METHOD_LIMIT <= 8000

    def test_flagship_stages_compile(self, spark):
        """auto sends rect_layer to 'expr': its fused stage must stay
        under the limit, or the fold loses its JIT."""
        from whitebox_tools_spark import api

        assert huge_stages(api.flagship(spark)) == []

    def test_layers_past_rect_layer_take_compiled_arrow_stage(self, spark):
        """A layer just past rect_layer's 20 vertices whose edges all cross
        makes a flagship stage past the limit on 'expr' (about 490 bytes
        per edge), where the Arrow path is faster: auto takes the Arrow
        path, whose stage compiles."""
        for n in (EXPR_MAX_VERTICES + 1, 51):
            layer = _star(n)
            assert huge_stages(_flagship_shape(spark, layer, "expr")) != [], n
            df = _flagship_shape(spark, layer)
            assert "ArrowEvalPython" in _plan(df), n
            assert huge_stages(df) == [], n

    def test_docs_overlay_stage_runs_per_operator(self, spark, tmp_path):
        """docs parquet with spans -> geometry -> LidarTile -> rect_layer
        tag -> spans sink: the fused tag stage is past 8000 bytes, and no
        such stage may sit at or under the session's limit, where it
        would be kept whole-stage and run interpreted. The docs are
        written here rather than read through ``_geo``: a geometry frame
        that another test cached would replace the scan."""
        path = str(tmp_path / "docs")
        synth_docs(spark, 200).write.parquet(path)
        geo = derive.with_geometry(spark.read.parquet(path), "doc_num")
        tagged = tag_polygon(tiling.lidar_tile(geo, min_points=2), vectors.rect_layer())
        df = tagged.select("doc_num", "tile", "poly_fid", "spans")
        huge = huge_stages(df)
        limit = int(spark.conf.get("spark.sql.codegen.hugeMethodLimit"))
        assert huge, "the docs_overlay tag stage no longer crosses 8000 bytes"
        assert [size for _, size in huge if size <= limit] == [], (huge, limit)


class TestRound2Plans:
    def test_fixture_queries_scan_local_relations(self, spark):
        """Catalog fixture layers must plan as LocalTableScan (VALUES
        LocalRelation) — never a Python-RDD scan (applySchemaToPythonRDD:
        unknown stats, forced sort-merge joins, a Python worker per
        re-scan)."""
        from whitebox_tools_spark import catalog_overlay as co

        for name in ("polygon_overlay", "split_with_lines", "dissolve",
                     "dissolve_geom"):
            df = co.QUERIES[name](spark, "/root/testdata/sf0.001")
            plan = _plan(df)
            assert "applySchemaToPythonRDD" not in plan, (name, plan)
            assert "LocalTableScan" in plan, (name, plan)

    def test_lsh_pair_join_has_no_distinct_aggregate(self, spark):
        """minhash candidate pairs are emitted exactly once via the
        first-matching-band filter — the plan must contain exactly the
        band equi-join and no pair-dedup HashAggregate above it."""
        from whitebox_tools_spark.operators import text as tx
        from whitebox_tools_spark.sources.tables import documents

        docs = documents(spark, "/root/testdata/sf0.001")
        plan = _plan(tx.minhash_candidates(docs))
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        # no aggregate at all: candidates flow straight out of the join
        assert "HashAggregate" not in plan, plan

    def test_viewshed_is_distributed_jvm(self, spark):
        """Round-3 scale guard: viewshed must not materialize the DEM on
        the driver (no Python eval nodes — the old mapInPandas kernel
        implied a driver-side DEM collect + broadcast) and the ray
        samples must reach the DEM via an equi-join."""
        from whitebox_tools_spark import api

        plan = _plan(api.QUERIES["viewshed"](spark, SF_DIR))
        for node in PYTHON_NODES:
            assert node not in plan, node
        assert "HashJoin" in plan or "SortMergeJoin" in plan, plan

    def test_buffer_geometry_is_generate_only(self, spark):
        """Buffer outline: one Generate over per-part HOFs — no joins,
        no shuffle exchange."""
        from whitebox_tools_spark.localrel import local_df
        from whitebox_tools_spark.operators.misc6 import buffer_vector_geometry
        from whitebox_tools_spark.sources import vectors

        layer = local_df(spark, vectors.layer_to_rows(vectors.rect_layer()))
        plan = _plan(buffer_vector_geometry(layer, 30.0))
        assert "Join" not in plan, plan
        assert "Exchange" not in plan, plan


# Queries whose executed plan legitimately contains a
# BroadcastNestedLoopJoin, audited one by one (round-2 sweep): a 1-row
# global-aggregate crossJoin (scalar broadcast), an EDT site-lattice
# constructor (rows x target-columns, the documented working set), a
# brute-force ANN baseline (crossJoin by design), or a range predicate
# against an explicitly broadcast SMALL dimension (pour points, fixture
# lake/clip rectangles). Anything outside this list is an unreviewed
# theta-join — the round-1 scale hazard — and fails the sweep.
BNLJ_ALLOWED = {
    "geomorphons", "histogram_equalization", "ann_topk", "z_scores",
    "euclidean_distance", "euclidean_allocation", "elev_relative_to_min_max",
    "integral_image", "morans_i", "random_field", "snap_pour_points",
    "jenson_snap_pour_points", "tin_gridding", "shape_complexity_raster",
    "hypsometric_analysis", "slope_vs_elevation", "horizon_angle",
    "rgb_to_ihs", "ihs_to_rgb", "colour_composite", "split_colour_composite",
    "decorrelation_stretch", "balance_contrast", "buffer_raster",
    "fill_missing_data", "fetch_analysis", "directional_relief",
    "elev_above_stream_euclidean", "narrowness_index", "ks_normality",
    "histogram_matching", "multiscale_topographic_position", "flatten_lakes",
    "turning_bands", "lidar_classify_subset", "voronoi_raster",
    "mosaic_feathering", "stddev_stretch", "percentage_stretch",
    "symmetrical_difference_area", "rect_grid",
    # viewshed family: the DEM crossJoins an explicitly broadcast
    # viewpoint frame (a handful of rows) — the ray samples themselves
    # are an equi-join; audited round 3 when the driver-resident DEM
    # was replaced by this fully distributed pipeline.
    "viewshed", "visibility_index",
    # viewshed_sweep: same audited shape — the only non-equi join is the
    # DEM crossJoin against the explicitly broadcast <=3-row viewpoint
    # frame; blockers/targets meet in a window, not a join (round 4).
    "viewshed_sweep",
    # IVF ANN: corpus/queries crossJoin an explicitly broadcast 16-row
    # centroid frame (Lloyd assignment + probe ranking); the candidate
    # generation itself is the cluster-id equi-join — audited round 3.
    "ivf_topk",
    # rescale_value_range attaches a 1-row min/max aggregate to every
    # cell via an explicitly broadcast crossJoin (local_math.py:237-251)
    # — the same audited 1-row-stats-frame shape as stddev_stretch /
    # percentage_stretch; weighted_overlay composes it per factor
    # (round 4).
    "rescale_range", "weighted_overlay",
    # bm25_score crossJoins the explicitly broadcast 1-row global-stats
    # aggregate (N, avg dl, per-term df) onto the per-doc frame
    # (text.py bm25_scores) — the audited 1-row-stats-frame shape
    # (round 5).
    "bm25_score",
    # bigram_lm crossJoins the explicitly broadcast 1-row vocabulary
    # size aggregate onto the scored postings (text.py
    # bigram_lm_scores) — the same audited 1-row-stats-frame shape
    # (round 5).
    "bigram_lm",
    # ivfpq_topk probes via the same explicitly-broadcast 16-row
    # centroid crossJoin audited for ivf_topk; candidates and ADC are
    # equi-joins (round 5).
    "ivfpq_topk",
}


class TestCatalogPlanSweep:
    def test_no_cartesian_and_bnlj_only_where_audited(self, spark):
        """Explain-only sweep over the FULL catalog: no CartesianProduct
        anywhere; BroadcastNestedLoopJoin only in the audited allowlist."""
        from whitebox_tools_spark import api

        import re

        # expensive expressions that must never appear inside a parquet
        # scan's DataFilters: a Generate's inferred non-empty filter can
        # collapse a single-referenced array build into the scan,
        # recomputing it per row (measured 8x on the shingle lanes —
        # explode_outer on never-empty arrays is the fix)
        expensive = ("transform(", "array_distinct", "md5(", "aggregate(")

        offenders = []
        for name, fn in api.QUERIES.items():
            plan = _plan(fn(spark, SF_DIR))
            if "CartesianProduct" in plan:
                offenders.append((name, "CartesianProduct"))
            if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_ALLOWED:
                offenders.append((name, "BroadcastNestedLoopJoin"))
            for line in plan.splitlines():
                if "DataFilters" in line:
                    m = re.search(r"DataFilters: \[(.*?)\], Format", line)
                    expr = m.group(1) if m else ""
                    if any(k in expr for k in expensive):
                        offenders.append((name, "recompute-in-scan-filter"))
                        break
        assert not offenders, offenders
