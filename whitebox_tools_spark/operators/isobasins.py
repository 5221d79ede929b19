"""Isobasins (hydro_analysis/isobasins.rs): divide the landscape into
nearly equal-sized watersheds.

The reference processes cells on a topological stack, resetting the
running flow accumulation wherever it crosses the target size and
marking pour points (:360-470). That decision depends only on the
cell's upstream subtree, so it is a pure tree DP: the engine runs it
as a frontier fixpoint (a cell resolves once all inflowing neighbours
are resolved — the same wave as d8_flow_accumulation), which is
order-independent and distributes.

Per resolved cell c:  fa_in = 1 + sum(child fa_out).
If fa_in >= target: inla = (max child fa_out, tie -> smallest
neighbour index); cut at the max inflow when
inla <= target AND (target - inla) < (fa_in - target)  [the reference's
usize subtraction wraps when inla > target, falling through to the
self-reset branch — replicated explicitly]: mark that child a pour
point, fa_out = fa_in - inla; otherwise mark c itself, fa_out = 1.
Terminal cells (dir < 0) are always pour points.

Labels: dense rank of pour-point cell ids (canonical,
partition-invariant — the reference uses pop order; documented
deviation); every cell takes the label of the FIRST pour point on its
downstream path (nearest by path distance, via the D8 path closure).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from whitebox_tools_spark.operators.branch import _path_closure
from whitebox_tools_spark.operators.graph import expand
from whitebox_tools_spark.operators.gridding import GridConfig
from whitebox_tools_spark.operators.hydro2 import d8_graph

IDX = [1, 1, 1, 0, -1, -1, -1, 0]
IDY = [-1, 0, 1, 1, 1, 0, -1, -1]


def isobasins(
    raster: DataFrame,
    cfg: GridConfig,
    target_size: int,
    tile_size: int = 128,
    max_rounds: int = 200,
) -> DataFrame:
    nodes, edges = d8_graph(raster, cfg, tile_size)
    # neighbour index i of child a seen from parent b (tie-break key)
    iexpr = None
    for i, (dx, dy) in enumerate(zip(IDX, IDY)):
        cond = (
            (F.col("ar") - F.col("br") == F.lit(dy))
            & (F.col("ac") - F.col("bc") == F.lit(dx))
        )
        iexpr = F.when(cond, F.lit(i)) if iexpr is None else iexpr.when(cond, F.lit(i))
    pos = nodes.select("id", F.col("row").alias("r_"), F.col("col").alias("c_"))
    iedges = (
        edges.join(
            pos.select(F.col("id").alias("a"), F.col("r_").alias("ar"), F.col("c_").alias("ac")),
            "a",
        )
        .join(
            pos.select(F.col("id").alias("b"), F.col("r_").alias("br"), F.col("c_").alias("bc")),
            "b",
        )
        .select("a", "b", iexpr.alias("i"))
        .localCheckpoint(eager=True)
    )

    t = int(target_size)

    def peel(_frontier, res):
        """One peel round: resolve every pending cell whose inflows are all
        resolved — its outflow accumulation ``fa`` and the cut mark ``mk``
        it places (the cell itself, or its child cut instead)."""
        pend = nodes.select("id").join(res.select("id"), "id", "left_anti")
        cand = (
            pend.join(iedges.withColumnRenamed("b", "id"), "id", "left")
            .join(
                res.select(F.col("id").alias("a"), F.col("fa").alias("cfa")),
                "a",
                "left",
            )
            .groupBy("id")
            .agg(
                F.count("a").alias("n_in"),
                F.count("cfa").alias("n_res"),
                (F.lit(1) + F.coalesce(F.sum("cfa"), F.lit(0))).alias("fa_in"),
                F.max(
                    F.when(
                        F.col("cfa").isNotNull(),
                        F.struct(
                            F.col("cfa").alias("fa"),
                            (-F.col("i")).alias("ni"),
                            F.col("a").alias("child"),
                        ),
                    )
                ).alias("inla"),
            )
            .where(F.col("n_in") == F.col("n_res"))
        )
        over = F.col("fa_in") >= t
        has_child = F.col("inla").isNotNull()
        cut_at_child = (
            over
            & has_child
            & (F.col("inla.fa") <= t)
            & ((t - F.col("inla.fa")) < (F.col("fa_in") - t))
        )
        fa_out = (
            F.when(cut_at_child, F.col("fa_in") - F.col("inla.fa"))
            .when(over, F.lit(1))
            .otherwise(F.col("fa_in"))
        )
        mark = F.when(cut_at_child, F.col("inla.child")).when(over, F.col("id"))
        return cand.select("id", fa_out.alias("fa"), mark.alias("mk"))

    none = raster.sparkSession.createDataFrame([], "id long, fa long, mk long")
    res = expand(none.localCheckpoint(eager=True), peel, max_rounds, "isobasins")
    marks = (
        res.where(F.col("mk").isNotNull())
        .select(F.col("mk").alias("id"))
        .unionByName(nodes.where(F.col("dir") < 0).select("id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    ranked = marks.withColumn(
        "label", F.row_number().over(Window.orderBy("id")).cast("double")
    )
    clo = _path_closure(nodes, edges)
    best = (
        clo.join(ranked.withColumnRenamed("id", "cur"), "cur")
        .groupBy("src")
        .agg(F.min(F.struct("d", "label")).alias("m"))
        .select("src", F.col("m.label").alias("value"))
    )
    return nodes.join(best.withColumnRenamed("src", "id"), "id").select(
        "row", "col", "value"
    )
