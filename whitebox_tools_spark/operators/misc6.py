"""Batch: basin unnesting, spur removal, stochastic depression analysis,
segmentation-based LiDAR filtering, convex vector buffering."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whitebox_tools_spark.operators.graph import checkpoint_nostats, expand
from whitebox_tools_spark.operators.gridding import GridConfig

SD_A1, SD_B1 = 22695477, 1
_M32 = 2**32


def unnest_basins(
    raster: DataFrame, pour: DataFrame, cfg: GridConfig,
    tile_size: int = 128, max_rounds: int = 400,
) -> DataFrame:
    """UnnestBasins (hydro_analysis/unnest_basins.rs): the nesting level
    of each pour point = 1 + the number of other pour points strictly
    downstream on its D8 flow path; output (row, col, value=level) at
    the pour cells."""
    from whitebox_tools_spark.operators.hydro2 import d8_graph

    import math as _math

    nodes, edges = d8_graph(raster, cfg, tile_size)
    pset = pour.select(
        (F.col("row") * cfg.cols + F.col("col")).alias("id")
    ).distinct().localCheckpoint(eager=True)
    # pointer-doubling walk: jump table carries (2^k-step successor,
    # pour cells passed along the jump); terminal cells self-loop with 0.
    # log2 rounds replace the O(path-length) frontier loop.
    is_pour = pset.select(F.col("id").alias("b"), F.lit(1).alias("inc"))
    succ1 = (
        edges.join(is_pour, "b", "left")
        .select(
            F.col("a").alias("id"), F.col("b").alias("nxt"),
            F.coalesce("inc", F.lit(0)).alias("inc"),
        )
    )
    succ = (
        nodes.select("id")
        .join(succ1, "id", "left")
        .select(
            "id",
            F.coalesce("nxt", F.col("id")).alias("nxt"),
            F.coalesce("inc", F.lit(0)).alias("inc"),
        )
        .localCheckpoint(eager=True)
    )
    reach = pset.select(
        F.col("id").alias("src"), F.col("id").alias("cur"), F.lit(0).alias("n")
    ).localCheckpoint(eager=True)
    jump = None

    def step(_frontier, reach):
        nonlocal jump
        if jump is None:
            jump = succ
        else:
            jx = jump.select(F.col("id").alias("jid"), F.col("nxt").alias("mid"), F.col("inc").alias("i1"))
            jy = jump.select(F.col("id").alias("mid"), F.col("nxt").alias("jnxt"), F.col("inc").alias("i2"))
            jump = (
                jx.join(jy, "mid")
                .select(F.col("jid").alias("id"), F.col("jnxt").alias("nxt"),
                        (F.col("i1") + F.col("i2")).alias("inc"))
                .transform(checkpoint_nostats)
            )
        stepped = (
            reach.join(jump, reach.cur == jump.id)
            .select("src", F.col("nxt").alias("cur"), (F.col("n") + F.col("inc")).alias("n"))
        )
        return stepped.distinct().join(reach, ["src", "cur", "n"], "left_anti")

    rounds = max(1, _math.ceil(_math.log2(max(2, max_rounds))))
    reach = expand(reach, step, rounds, "unnest_basins")
    lvl = reach.groupBy("src").agg(F.max("n").alias("lv"))
    return (
        nodes.join(lvl.withColumnRenamed("src", "id"), "id")
        .select("row", "col", (F.col("lv") + 1).cast("double").alias("value"))
    )


def remove_spurs(
    raster: DataFrame, cfg: GridConfig, iterations: int = 10, tile_size: int = 128
) -> DataFrame:
    """RemoveSpurs (image_analysis/remove_spurs.rs, parallel engine
    variant): repeat ``iterations`` times — drop every foreground cell
    (value > 0) with at most one foreground 8-neighbour (all removals in
    a pass are simultaneous). Output 1.0 foreground / 0.0 background."""
    from whitebox_tools_spark.operators.hydro import D8_DX, D8_DY

    fg = raster.where(F.col("value") > 0.0).select(
        "row", "col", (F.col("row") * cfg.cols + F.col("col")).alias("id")
    ).localCheckpoint(eager=True)
    all_cells = raster.select("row", "col").localCheckpoint(eager=True)
    offs = F.array(
        *[F.struct(F.lit(D8_DY[i]).alias("dr"), F.lit(D8_DX[i]).alias("dc")) for i in range(8)]
    )
    for _ in range(iterations):
        ex = fg.select("id", "row", "col", F.explode(offs).alias("o"))
        nb = ex.join(
            fg.select(F.col("row").alias("nr"), F.col("col").alias("nc")),
            (F.col("row") + F.col("o.dr") == F.col("nr"))
            & (F.col("col") + F.col("o.dc") == F.col("nc")),
        )
        cnt = nb.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
        keep = (
            fg.join(cnt, "id", "left")
            .where(F.coalesce("n", F.lit(0)) >= 2)
            .select("id", "row", "col")
            .transform(checkpoint_nostats)
        )
        if keep.count() == fg.count():
            fg = keep
            break
        fg = keep
    return (
        all_cells.join(fg.select("row", "col", F.lit(1.0).alias("v")), ["row", "col"], "left")
        .select("row", "col", F.coalesce("v", F.lit(0.0)).alias("value"))
    )


def stochastic_depression_analysis(
    raster: DataFrame, cfg: GridConfig, k: int = 2, rmse: float = 2.0,
    fill_rounds: int = 64,
) -> DataFrame:
    """StochasticDepressionAnalysis (stochastic_depression_analysis.rs,
    counter-based engine form): pdep = mean over k realizations of
    [fill(z + e_i) > z + e_i], e_i uniform(-rmse, rmse) from an LCG hash
    of (cell, i)."""
    from whitebox_tools_spark.operators.hydro2 import fill_depressions

    cell = F.col("row") * cfg.cols + F.col("col")
    flags = None
    for i in range(k):
        h = F.pmod((cell * 8 + i) * F.lit(SD_A1) + F.lit(SD_B1), F.lit(_M32))
        e = (h.cast("double") / float(_M32) * 2.0 - 1.0) * rmse
        zi = raster.select("row", "col", (F.col("value") + e).alias("value"))
        filled = fill_depressions(zi, cfg, max_rounds=fill_rounds)
        f = (
            zi.select("row", "col", F.col("value").alias("z"))
            .join(filled.select("row", "col", F.col("value").alias("w")), ["row", "col"])
            .select(
                "row", "col",
                F.when(F.col("w") > F.col("z"), 1.0).otherwise(0.0).alias(f"f{i}"),
            )
        )
        flags = f if flags is None else flags.join(f, ["row", "col"])
    expr = sum(F.col(f"f{i}") for i in range(k)) / float(k)
    return flags.select("row", "col", expr.alias("value"))


def lidar_segmentation_based_filter(
    geo: DataFrame, radius: float = 100.0, max_angle_deg: float = 15.0,
    nz_threshold: float = 0.94, nv: DataFrame | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """LidarSegmentationBasedFilter (lidar_segmentation_based_filter.rs,
    engine form): segment the cloud by normal agreement, then classify
    each segment ground (2) when its mean |normal z| >= nz_threshold
    (near-horizontal surface), else off-ground (1)."""
    from whitebox_tools_spark.operators.lidar import lidar_segmentation, normal_vectors

    # one normals pass shared by the segmentation and the per-segment
    # mean-|nz| classification (it is a radius join + eigen solve — the
    # dominant cost; checkpoint so both consumers reuse the result)
    if nv is None:
        nv = normal_vectors(geo, radius, pairs=pairs).localCheckpoint(eager=True)
    seg = lidar_segmentation(geo, radius, max_angle_deg, nv=nv, pairs=pairs)
    per = (
        seg.join(nv, "doc_id")
        .groupBy("segment")
        .agg((F.sum(F.abs("nz")) / F.count(F.lit(1))).alias("mnz"))
    )
    return (
        seg.join(per, "segment")
        .select(
            "doc_id",
            F.when(F.col("mnz") >= nz_threshold, 2.0).otherwise(1.0).alias("cls_out"),
        )
    )


def buffer_vector_convex_area(layer: DataFrame, dist: float) -> DataFrame:
    """BufferVector (gis_analysis/buffer_vector.rs) area form, exact for
    convex shells: buffered area = area + perimeter*d + pi*d^2 per
    feature (Minkowski sum with a disc; geometry output is out of scope,
    the measure is the oracle-checkable core)."""
    from whitebox_tools_spark.operators.measures import part_area, part_perimeter

    m = layer.where(~F.col("is_hole")).select(
        "fid",
        part_area(F.col("xs"), F.col("ys")).alias("area"),
        part_perimeter(F.col("xs"), F.col("ys")).alias("perim"),
    )
    g = m.groupBy("fid").agg(F.sum("area").alias("area"), F.sum("perim").alias("perim"))
    return g.select(
        "fid",
        (F.col("area") + F.col("perim") * dist + math.pi * dist * dist).alias(
            "buffered_area"
        ),
    )


def buffer_vector_geometry(
    layer: DataFrame, dist: float, arc_segments: int = 4
) -> DataFrame:
    """BufferVector (gis_analysis/buffer_vector.rs) outline geometry:
    the Minkowski sum of each shell with a disc of radius ``dist`` —
    every edge offset outward by ``dist`` plus a discretized arc of
    ``arc_segments`` chords around each vertex. Exact for convex
    shells (concave input would additionally need self-intersection
    trimming). One narrow pass: per-part HOF expressions, a single
    Generate — no joins, no shuffle.

    Output: (fid, part, vi, x, y) — buffered ring vertices in order;
    ring orientation CCW regardless of input winding.
    """
    two_pi = 2.0 * math.pi

    n = (F.size("xs") - 1).alias("n")  # rings are closed (first == last)
    layer = (
        layer.where(~F.col("is_hole"))
        .select("fid", "part", "xs", "ys")
        .withColumn("n", n)
    )

    def el(arr, i):
        # 0-based modular access on the open ring
        return F.element_at(F.col(arr), (F.pmod(i, F.col("n")) + 1).cast("int"))

    # shoelace over the open ring; reverse CW rings so the walk is CCW
    shoe = F.aggregate(
        F.sequence(F.lit(0), F.col("n") - 1),
        F.lit(0.0),
        lambda acc, i: acc
        + el("xs", i) * el("ys", i + 1)
        - el("xs", i + 1) * el("ys", i),
    )
    layer = (
        layer.withColumn("shoe", shoe)
        .withColumn(
            "px",
            F.when(F.col("shoe") < 0, F.reverse(F.slice("xs", 1, F.col("n"))))
            .otherwise(F.slice("xs", 1, F.col("n"))),
        )
        .withColumn(
            "py",
            F.when(F.col("shoe") < 0, F.reverse(F.slice("ys", 1, F.col("n"))))
            .otherwise(F.slice("ys", 1, F.col("n"))),
        )
    )

    def pel(arr, i):
        return F.element_at(F.col(arr), (F.pmod(i, F.col("n")) + 1).cast("int"))

    def edge_normal_angle(i):
        # outward normal of CCW edge i -> i+1 is its direction rotated -90deg
        dx = pel("px", i + 1) - pel("px", i)
        dy = pel("py", i + 1) - pel("py", i)
        return F.atan2(dy, dx) - F.lit(math.pi / 2.0)

    k = arc_segments
    pts = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.col("n") - 1),
            lambda i: F.transform(
                F.sequence(F.lit(0), F.lit(k)),
                lambda j: F.struct(
                    (
                        pel("px", i)
                        + F.lit(dist)
                        * F.cos(
                            edge_normal_angle(i - 1)
                            + F.pmod(
                                edge_normal_angle(i) - edge_normal_angle(i - 1),
                                F.lit(two_pi),
                            )
                            * j.cast("double")
                            / F.lit(float(k))
                        )
                    ).alias("x"),
                    (
                        pel("py", i)
                        + F.lit(dist)
                        * F.sin(
                            edge_normal_angle(i - 1)
                            + F.pmod(
                                edge_normal_angle(i) - edge_normal_angle(i - 1),
                                F.lit(two_pi),
                            )
                            * j.cast("double")
                            / F.lit(float(k))
                        )
                    ).alias("y"),
                ),
            ),
        )
    )
    return layer.select(
        "fid", "part", F.posexplode(pts).alias("vi", "p")
    ).select("fid", "part", "vi", F.col("p.x").alias("x"), F.col("p.y").alias("y"))
