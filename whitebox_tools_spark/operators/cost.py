"""Cost-surface family + mass flux + watershed-relative ops + vector
line intersections (SURVEY.md §2.8 / §2.4).

CostDistance runs as a Bellman-Ford min-fixpoint over the 8-neighbour
pair graph — the distributed replacement for the reference's sequential
Dijkstra heap (cost_distance.rs:22-30): every round is one join +
min-aggregation; rounds ~ longest least-cost path in cells. The
(cost, allocation) pair propagates through the same lattice min, so
CostAllocation falls out of the identical fixpoint.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from whitebox_tools_spark.operators.graph import changed, expand, fixpoint, size_hint
from whitebox_tools_spark.operators.gridding import GridConfig
from whitebox_tools_spark.operators.hydro import D8_DX, D8_DY


def _pairs(cells: DataFrame, cfg: GridConfig) -> DataFrame:
    """8-neighbour pairs (a, b, dist) among present cells."""
    diag = math.sqrt(cfg.res_x * cfg.res_x + cfg.res_y * cfg.res_y)
    lens = [diag, cfg.res_x, diag, cfg.res_y, diag, cfg.res_x, diag, cfg.res_y]
    offs = F.array(
        *[
            F.struct(
                F.lit(D8_DY[i]).alias("dr"), F.lit(D8_DX[i]).alias("dc"),
                F.lit(lens[i]).alias("dist"),
            )
            for i in range(8)
        ]
    )
    ex = cells.select("id", "row", "col", F.explode(offs).alias("o"))
    nbr = cells.select(
        F.col("id").alias("b"), F.col("row").alias("nr"), F.col("col").alias("nc")
    )
    return (
        ex.join(
            nbr,
            (F.col("row") + F.col("o.dr") == F.col("nr"))
            & (F.col("col") + F.col("o.dc") == F.col("nc")),
        )
        .select(F.col("id").alias("a"), "b", F.col("o.dist").alias("dist"))
    )


def cost_distance(
    source: DataFrame,
    cost: DataFrame,
    cfg: GridConfig,
    max_rounds: int = 100,
) -> DataFrame:
    """CostDistance + CostAllocation (cost_distance.rs:321-334):
    accumulated cost new = acc(a) + (cost(a)+cost(b))/2 * dist, taken to
    the lattice minimum of (cost, source id); returns
    (row, col, value=accumulated cost, alloc=source cell value)."""
    cells = (
        source.select("row", "col", F.col("value").alias("src"))
        .join(cost.select("row", "col", F.col("value").alias("c")), ["row", "col"])
        .select("row", "col", "src", "c", (F.col("row") * cfg.cols + F.col("col")).alias("id"))
        .localCheckpoint(eager=True)
    )
    pairs = (
        _pairs(cells, cfg)
        .join(cells.select(F.col("id").alias("a"), F.col("c").alias("ca")), "a")
        .join(cells.select(F.col("id").alias("b"), F.col("c").alias("cb")), "b")
        .select("a", "b", ((F.col("ca") + F.col("cb")) / 2.0 * F.col("dist")).alias("step"))
        .localCheckpoint(eager=True)
    )
    cur = cells.select(
        "id",
        F.when(F.col("src") > 0.0, 0.0).otherwise(float("inf")).alias("acc"),
        F.when(F.col("src") > 0.0, F.col("src")).otherwise(float("inf")).alias("alloc"),
    ).localCheckpoint(eager=True)
    small = cfg.rows * cfg.cols <= 2_000_000

    def relax(state: DataFrame) -> DataFrame:
        cand = (
            pairs.join(size_hint(state, small), pairs.a == state.id)
            .select(
                F.col("b").alias("id"),
                (F.col("acc") + F.col("step")).alias("acc"),
                "alloc",
            )
            .unionByName(state)
        )
        # lattice min of (acc, alloc) via struct-min: map-side combinable,
        # no per-round sort window
        return (
            cand.groupBy("id")
            .agg(F.min(F.struct("acc", "alloc")).alias("m"))
            .select("id", F.col("m.acc").alias("acc"), F.col("m.alloc").alias("alloc"))
        )

    cur = fixpoint(cur, relax, changed("id", "acc", "alloc"), max_rounds, "cost_distance")
    return cells.join(cur, "id").select("row", "col", F.col("acc").alias("value"), "alloc")


def d8_mass_flux(
    loading: DataFrame,
    efficiency: DataFrame,
    absorption: DataFrame,
    dirs: DataFrame,
    cfg: GridConfig,
    max_rounds: int = 100,
) -> DataFrame:
    """D8MassFlux (hydro_analysis/d8_mass_flux.rs): outflux(c) =
    (influx(c) + loading(c) - absorption(c)) * efficiency(c), influx =
    sum of inflowing neighbours' outflux over the D8 graph."""
    cid = (F.col("row") * cfg.cols + F.col("col")).alias("id")
    base = (
        loading.select("row", "col", F.col("value").alias("l"))
        .join(efficiency.select("row", "col", F.col("value").alias("e")), ["row", "col"])
        .join(absorption.select("row", "col", F.col("value").alias("ab")), ["row", "col"])
        .join(dirs, ["row", "col"])
        .select("row", "col", "l", "e", "ab", "dir", cid)
        .localCheckpoint(eager=True)
    )
    dx = F.array(*[F.lit(v) for v in D8_DX])
    dy = F.array(*[F.lit(v) for v in D8_DY])
    edges = (
        base.where(F.col("dir") >= 0)
        .select(
            F.col("id").alias("a"),
            (
                (F.col("row") + F.element_at(dy, F.col("dir") + 1)) * cfg.cols
                + (F.col("col") + F.element_at(dx, F.col("dir") + 1))
            ).alias("b"),
        )
        .join(base.select(F.col("id").alias("b")), "b", "left_semi")
        .localCheckpoint(eager=True)
    )
    cur = base.select(
        "id", ((F.col("l") - F.col("ab")) * F.col("e")).alias("val")
    ).localCheckpoint(eager=True)
    small = cfg.rows * cfg.cols <= 2_000_000

    def step(cur):
        influx = (
            edges.join(size_hint(cur, small), edges.a == cur.id)
            .groupBy("b")
            .agg(F.sum("val").alias("s"))
        )
        return base.join(
            size_hint(influx.withColumnRenamed("b", "id"), small), "id", "left"
        ).select(
            "id",
            ((F.coalesce("s", F.lit(0.0)) + F.col("l") - F.col("ab")) * F.col("e")).alias("val"),
        )

    cur = fixpoint(cur, step, changed("id", "val"), max_rounds, "d8_mass_flux")
    return base.join(cur, "id").select("row", "col", F.col("val").alias("value"))


def stream_payload_basins(
    raster: DataFrame,
    streams_payload: DataFrame,
    cfg: GridConfig,
    tile_size: int = 128,
) -> DataFrame:
    """Shared machinery for Subbasins / StrahlerOrderBasins
    (hydro_analysis/subbasins.rs, strahler_order_basins.rs): every cell
    labelled with the payload of the FIRST stream cell its D8 path
    reaches (stream cells keep their own payload). ``streams_payload``:
    (row, col, payload)."""
    from whitebox_tools_spark.operators.hydro2 import d8_graph

    nodes, edges = d8_graph(raster, cfg, tile_size)
    sp = streams_payload.select(
        (F.col("row") * cfg.cols + F.col("col")).alias("id"), "payload"
    )
    small = cfg.rows * cfg.cols <= 2_000_000

    def step(frontier, known):
        return (
            edges.join(size_hint(frontier, small), edges.b == frontier.id)
            .select(F.col("a").alias("id"), "payload")
            .join(
                size_hint(known.select(F.col("id").alias("kid")), small),
                F.col("id") == F.col("kid"),
                "left_anti",
            )
        )

    known = expand(sp.localCheckpoint(eager=True), step, 400, "stream_payload_basins")
    return nodes.join(known, "id").select(
        "row", "col", F.col("payload").cast("double").alias("value")
    )


def elev_relative_to_watershed_minmax(
    raster: DataFrame, basins: DataFrame, cfg: GridConfig
) -> DataFrame:
    """ElevRelativeToWatershedMinMax
    (terrain_analysis/elev_relative_to_watershed_min_max.rs):
    (z - basin_min)/(basin_max - basin_min) * 100 per watershed."""
    j = raster.join(
        basins.select("row", "col", F.col("value").alias("basin")), ["row", "col"]
    )
    per = j.groupBy("basin").agg(
        F.min("value").alias("mn"), F.max("value").alias("mx")
    )
    v = F.when(
        F.col("mx") > F.col("mn"),
        (F.col("value") - F.col("mn")) / (F.col("mx") - F.col("mn")) * 100.0,
    ).otherwise(0.0)  # flat/single-cell basin
    return j.join(F.broadcast(per), "basin").select("row", "col", v.alias("value"))


# -------------------------------------------------- line intersections


def line_intersections(
    l1: DataFrame, l2: DataFrame, cell: float | None = None
) -> DataFrame:
    """LineIntersections (gis_analysis/line_intersections.rs): exact
    intersection points of segment pairs from two line layers
    (parametric cross-product solve; collinear overlaps excluded).
    Inputs: (seg_id, x1, y1, x2, y2). Candidate pairs via the grid-cell
    bbox EQUI-join (operators/bbox_join.py), not a theta-join."""
    from whitebox_tools_spark.operators.bbox_join import bbox_join, segment_bbox

    a = segment_bbox(
        l1.select(
            F.col("seg_id").alias("s1"),
            F.col("x1").alias("ax1"), F.col("y1").alias("ay1"),
            F.col("x2").alias("ax2"), F.col("y2").alias("ay2"),
        ),
        "ax1", "ay1", "ax2", "ay2", prefix="a",
    )
    b = segment_bbox(
        l2.select(
            F.col("seg_id").alias("s2"),
            F.col("x1").alias("bx1"), F.col("y1").alias("by1"),
            F.col("x2").alias("bx2"), F.col("y2").alias("by2"),
        ),
        "bx1", "by1", "bx2", "by2", prefix="b",
    )
    j = bbox_join(a, b, cell=cell).drop(
        "axmin", "aymin", "axmax", "aymax", "bxmin", "bymin", "bxmax", "bymax"
    )
    rx = F.col("ax2") - F.col("ax1")
    ry = F.col("ay2") - F.col("ay1")
    sx = F.col("bx2") - F.col("bx1")
    sy = F.col("by2") - F.col("by1")
    denom = rx * sy - ry * sx
    qpx = F.col("bx1") - F.col("ax1")
    qpy = F.col("by1") - F.col("ay1")
    # CASE-guarded so ANSI mode never evaluates the parallel-segment division
    t = F.when(denom != 0.0, (qpx * sy - qpy * sx) / denom)
    u = F.when(denom != 0.0, (qpx * ry - qpy * rx) / denom)
    return (
        j.withColumn("t", t)
        .withColumn("u", u)
        .where(F.col("t").isNotNull())
        .where((F.col("t") >= 0.0) & (F.col("t") <= 1.0) & (F.col("u") >= 0.0) & (F.col("u") <= 1.0))
        .select(
            "s1",
            "s2",
            (F.col("ax1") + F.col("t") * rx).alias("x"),
            (F.col("ay1") + F.col("t") * ry).alias("y"),
        )
    )
