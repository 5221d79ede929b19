"""MaxBranchLength (terrain_analysis/max_branch_length.rs, exact).

Bmax(cell) = max over the cell's right/down adjacent pairs of the
flowpath distance from the cell to the pair's MERGE cell (the first
common cell of the two D8 flowpaths — their lowest common downstream
ancestor in the D8 forest), or to the cell's flowpath terminus when the
two paths never meet (reference :336-400 joint walk).

Distributed shape: the D8 downstream-path closure (src, cur, d) built
by pointer doubling (O(log depth) self-join rounds), then ONE equi-join
per pair set on the common cell. Closure size = sum of path lengths —
the same O(N*L) bound the reference's per-pair walks pay, but shuffled
once instead of walked per pair."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whitebox_tools_spark.operators.graph import fixpoint
from whitebox_tools_spark.operators.gridding import GridConfig
from whitebox_tools_spark.operators.hydro2 import d8_graph


def _path_closure(nodes: DataFrame, edges: DataFrame, max_rounds: int = 32):
    """(src, cur, d): every cell on src's downstream path with the
    flowpath distance from src; includes (src, src, 0)."""
    ident = nodes.select(
        F.col("id").alias("src"), F.col("id").alias("cur"), F.lit(0.0).alias("d")
    )
    clo = ident.unionByName(
        edges.select(F.col("a").alias("src"), F.col("b").alias("cur"), F.col("len").alias("d"))
    ).localCheckpoint(eager=True)

    def step(clo):
        ext = (
            clo.alias("l")
            .join(
                clo.where(F.col("d") > 0.0).alias("r"),
                F.col("l.cur") == F.col("r.src"),
            )
            .select(
                F.col("l.src").alias("src"),
                F.col("r.cur").alias("cur"),
                (F.col("l.d") + F.col("r.d")).alias("d"),
            )
        )
        return clo.unionByName(ext).groupBy("src", "cur").agg(F.min("d").alias("d"))

    def new_pairs(new, old):
        return new.join(old, ["src", "cur"], "left_anti")

    return fixpoint(clo, step, new_pairs, max_rounds, "_path_closure")


def max_branch_length(
    raster: DataFrame, cfg: GridConfig, tile_size: int = 128, log_transform: bool = False
) -> DataFrame:
    nodes, edges = d8_graph(raster, cfg, tile_size)
    clo = _path_closure(nodes, edges)

    flows = nodes.where(F.col("dir") >= 0).select("id", "row", "col")
    right = flows.alias("u").join(
        flows.alias("v"),
        (F.col("u.row") == F.col("v.row")) & (F.col("u.col") + 1 == F.col("v.col")),
    )
    down = flows.alias("u").join(
        flows.alias("v"),
        (F.col("u.row") + 1 == F.col("v.row")) & (F.col("u.col") == F.col("v.col")),
    )
    pairs = (
        right.select(F.col("u.id").alias("ua"), F.col("v.id").alias("vb"))
        .unionByName(down.select(F.col("u.id").alias("ua"), F.col("v.id").alias("vb")))
        .withColumn("pid", F.monotonically_increasing_id())
        .localCheckpoint(eager=True)
    )

    cu = clo.select(F.col("src").alias("ua"), F.col("cur").alias("mc"), F.col("d").alias("du"))
    cv = clo.select(F.col("src").alias("vb"), F.col("cur").alias("mc"), F.col("d").alias("dv"))
    met = (
        pairs.join(cu, "ua")
        .join(cv, ["vb", "mc"])
        .groupBy("pid", "ua", "vb")
        .agg(F.min(F.struct("du", "dv")).alias("m"))
        .select("pid", "ua", "vb", F.col("m.du").alias("du"), F.col("m.dv").alias("dv"))
    )
    term = clo.groupBy("src").agg(F.max("d").alias("dterm"))
    unmet = (
        pairs.join(met.select("pid"), "pid", "left_anti")
        .join(term.withColumnRenamed("src", "ua"), "ua")
        .withColumnRenamed("dterm", "du")
        .join(
            term.select(F.col("src").alias("vb"), F.col("dterm").alias("dv")), "vb"
        )
        .select("pid", "ua", "vb", "du", "dv")
    )
    contrib = (
        met.unionByName(unmet)
        .select(F.col("ua").alias("id"), F.col("du").alias("dist"))
        .unionByName(
            met.unionByName(unmet).select(F.col("vb").alias("id"), F.col("dv").alias("dist"))
        )
    )
    per = contrib.groupBy("id").agg(F.max("dist").alias("bmax"))
    out = nodes.join(per, "id", "left").select(
        "row", "col", F.coalesce("bmax", F.lit(0.0)).alias("value")
    )
    if log_transform:
        out = out.select(
            "row", "col",
            F.when(F.col("value") > 0.0, F.log(F.col("value"))).otherwise(0.0).alias("value"),
        )
    return out
