"""RemoveOffTerrainObjects (terrain_analysis/
remove_off_terrain_objects.rs): bare-earth DEM by removing steep-sided
peaks.

Reference pipeline (:255-540) re-expressed relationally:
1. opening (min-then-max window) + white top-hat (existing operators);
2. ground region grow over the top-hat surface: seeds are cells with
   tophat <= slope*res_x, a neighbour joins when
   tophat(n) - tophat(c) < slope * step_length — pure reachability
   closure, so the reference's stack order is irrelevant and the grow
   runs as a distributed frontier fixpoint;
3. ground cells emit opening + tophat (the reference's exact output
   expression); off-terrain cells are IDW back-filled (weights 1/d^2,
   SquaredEuclidean FRS of radius filter/1.5) from BOUNDARY ground
   cells — one cell-grid radius join, no driver collect.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whitebox_tools_spark.operators.color import opening as opening_op
from whitebox_tools_spark.operators.graph import expand
from whitebox_tools_spark.operators.gridding import GridConfig

RDX = [1, 1, 1, 0, -1, -1, -1, 0]
RDY = [-1, 0, 1, 1, 1, 0, -1, -1]


def remove_off_terrain_objects(
    raster: DataFrame,
    cfg: GridConfig,
    filter_size: int = 11,
    slope_threshold: float = 15.0,
    tile_size: int = 128,
    max_rounds: int = 200,
) -> DataFrame:
    if filter_size % 2 == 0:
        filter_size += 1
    op = opening_op(raster, cfg, filter_size, filter_size, tile_size)
    th = (
        raster.select("row", "col", F.col("value").alias("z"))
        .join(op.select("row", "col", F.col("value").alias("o")), ["row", "col"])
        .select("row", "col", "o", (F.col("z") - F.col("o")).alias("t"))
        .localCheckpoint(eager=True)
    )
    slope = math.tan(math.radians(slope_threshold))
    diag = math.sqrt(cfg.res_x * cfg.res_x + cfg.res_y * cfg.res_y)
    lens = [diag, cfg.res_x, diag, cfg.res_y, diag, cfg.res_x, diag, cfg.res_y]
    thr = [slope * v for v in lens]

    cid = (F.col("row") * cfg.cols + F.col("col")).alias("id")
    cells = th.select("row", "col", "o", "t", cid).localCheckpoint(eager=True)
    probes = F.array(
        *[
            F.struct(
                (F.col("row") + dy).alias("nr"),
                (F.col("col") + dx).alias("nc"),
                F.lit(thr[i]).alias("thr"),
            )
            for i, (dx, dy) in enumerate(zip(RDX, RDY))
        ]
    )
    ex = cells.select("id", "t", F.explode(probes).alias("p")).select(
        "id", "t", "p.nr", "p.nc", "p.thr"
    )
    edges = (
        ex.join(
            cells.select(
                F.col("row").alias("nr"), F.col("col").alias("nc"),
                F.col("id").alias("nid"), F.col("t").alias("tn"),
            ),
            ["nr", "nc"],
        )
        .where(F.col("tn") - F.col("t") < F.col("thr"))
        .select(F.col("id").alias("a"), F.col("nid").alias("b"))
        .localCheckpoint(eager=True)
    )
    ground = cells.where(F.col("t") <= F.lit(thr[1])).select("id").localCheckpoint(
        eager=True
    )

    def step(frontier, ground):
        return (
            frontier.join(edges, frontier.id == edges.a)
            .select(F.col("b").alias("id"))
            .distinct()
            .join(ground, "id", "left_anti")
        )

    ground = expand(ground, step, max_rounds, "remove_off_terrain_objects")

    g = cells.join(ground, "id").localCheckpoint(eager=True)
    non_ground = cells.join(ground, "id", "left_anti")
    # boundary ground: ground cell with a valid non-ground 8-neighbour
    gex = g.select("id", "row", "col", F.explode(probes).alias("p")).select(
        "id", "row", "col", "p.nr", "p.nc"
    )
    boundary = (
        gex.join(
            non_ground.select(
                F.col("row").alias("nr"), F.col("col").alias("nc")
            ),
            ["nr", "nc"],
        )
        .select("id")
        .distinct()
        .join(g, "id")
        .select("row", "col", (F.col("o") + F.col("t")).alias("src_z"))
    )

    from whitebox_tools_spark.operators.radius_join import radius_join

    radius = filter_size / 1.5
    pts = boundary.select(
        F.col("row").cast("double").alias("y"), F.col("col").cast("double").alias("x"),
        F.col("src_z"),
    )
    qs = non_ground.select(
        "id", F.col("row").cast("double").alias("y"),
        F.col("col").cast("double").alias("x"),
    )
    cand = radius_join(pts, qs, radius, x="x", y="y", squared=True)
    filled = (
        cand.where(F.col("dist") > 0.0)
        .groupBy("id")
        .agg(
            (
                F.sum(F.col("src_z_p") * (1.0 / F.col("dist")))
                / F.sum(1.0 / F.col("dist"))
            ).alias("value")
        )
    )
    out_ground = g.select("row", "col", (F.col("o") + F.col("t")).alias("value"))
    out_oto = non_ground.select("id", "row", "col").join(filled, "id").select(
        "row", "col", "value"
    )
    return out_ground.unionByName(out_oto)
