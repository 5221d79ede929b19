"""DInf flow accumulation (Tarboton) + rasterized Voronoi.

DInf edges come straight from the DInf pointer angle as column
expressions — each cell splits flow between the two D8 neighbours
bracketing its 45-degree sector (dinf_flow_accum.rs:496-560), and the
accumulation is the same weighted fixpoint the FD8 operator uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whitebox_tools_spark.operators.graph import changed, fixpoint, size_hint
from whitebox_tools_spark.operators.gridding import GridConfig

# sector -> (n1 offset, n2 offset) as (drow, dcol), clockwise from north
_SECTORS = [
    ((-1, 0), (-1, 1)),   # [0, 45): N, NE
    ((-1, 1), (0, 1)),    # [45, 90): NE, E
    ((0, 1), (1, 1)),     # [90, 135): E, SE
    ((1, 1), (1, 0)),     # [135, 180): SE, S
    ((1, 0), (1, -1)),    # [180, 225): S, SW
    ((1, -1), (0, -1)),   # [225, 270): SW, W
    ((0, -1), (-1, -1)),  # [270, 315): W, NW
    ((-1, -1), (-1, 0)),  # [315, 360]: NW, N
]


def dinf_edges(dirs: DataFrame, cfg: GridConfig) -> DataFrame:
    """(a, b, w) weighted edges from a DInf angle raster (value in
    degrees, -1 = pit). Proportions: within sector s,
    w1 = ((s+1)*45 - dir)/45 to n1 and dir - s*45 over 45 to n2."""
    d = dirs.where(F.col("value") >= 0.0).select(
        "row", "col", F.col("value").alias("dir"),
        (F.col("row") * cfg.cols + F.col("col")).alias("a"),
    )
    sector = F.least(F.floor(F.col("dir") / 45.0).cast("int"), F.lit(7))
    # rebuild with when-chains anchored at sector 0
    tgt1 = None
    tgt2 = None
    for s in range(7, -1, -1):
        (r1, c1), (r2, c2) = _SECTORS[s]
        hi, lo = (s + 1) * 45.0, s * 45.0
        s1 = F.struct(
            ((F.col("row") + r1) * cfg.cols + (F.col("col") + c1)).alias("b"),
            ((F.lit(hi) - F.col("dir")) / 45.0).alias("w"),
            (F.col("row") + r1).alias("nr"), (F.col("col") + c1).alias("nc"),
        )
        s2 = F.struct(
            ((F.col("row") + r2) * cfg.cols + (F.col("col") + c2)).alias("b"),
            ((F.col("dir") - F.lit(lo)) / 45.0).alias("w"),
            (F.col("row") + r2).alias("nr"), (F.col("col") + c2).alias("nc"),
        )
        tgt1 = s1 if tgt1 is None else F.when(sector == s, s1).otherwise(tgt1)
        tgt2 = s2 if tgt2 is None else F.when(sector == s, s2).otherwise(tgt2)
    both = d.select("a", F.explode(F.array(tgt1, tgt2)).alias("t")).select(
        "a", F.col("t.b").alias("b"), F.col("t.w").alias("w"),
        F.col("t.nr").alias("nr"), F.col("t.nc").alias("nc"),
    )
    present = dirs.select(
        (F.col("row") * cfg.cols + F.col("col")).alias("pid")
    )
    return (
        both.where(
            (F.col("nr") >= 0) & (F.col("nr") < cfg.rows)
            & (F.col("nc") >= 0) & (F.col("nc") < cfg.cols)
            & (F.col("w") > 0.0)
        )
        .join(present, both.b == present.pid, "left_semi")
        .select("a", "b", "w")
    )


def dinf_flow_accumulation(
    raster: DataFrame, cfg: GridConfig, max_rounds: int = 100, tile_size: int = 128
) -> DataFrame:
    """DInfFlowAccumulation (dinf_flow_accum.rs): acc(b) = 1 +
    sum(w_ab * acc(a)) over the DInf proportional edges."""
    from whitebox_tools_spark.operators.terrain3 import dinf_pointer

    dirs = dinf_pointer(raster, cfg, tile_size).localCheckpoint(eager=True)
    edges = dinf_edges(dirs, cfg).localCheckpoint(eager=True)
    cells = dirs.select(
        "row", "col", (F.col("row") * cfg.cols + F.col("col")).alias("id")
    ).localCheckpoint(eager=True)
    small = cfg.rows * cfg.cols <= 2_000_000

    def step(cur):
        up = (
            edges.join(size_hint(cur, small), edges.a == cur.id)
            .groupBy("b")
            .agg(F.sum(F.col("w") * F.col("val")).alias("s"))
        )
        return (
            cells.select("id")
            .join(size_hint(up.withColumnRenamed("b", "id"), small), "id", "left")
            .select("id", (F.lit(1.0) + F.coalesce("s", F.lit(0.0))).alias("val"))
        )

    cur = fixpoint(
        cells.select("id", F.lit(1.0).alias("val")).localCheckpoint(eager=True),
        step, changed("id", "val"), max_rounds, "dinf_flow_accumulation",
    )
    return cells.join(cur, "id").select("row", "col", F.col("val").alias("value"))


def voronoi_raster(points: DataFrame, cfg: GridConfig, record: str = "doc_id") -> DataFrame:
    """VoronoiDiagram (gis_analysis/voronoi.rs, rasterized engine form):
    every grid cell labelled with its euclidean-nearest seed point's id
    (ties to the smallest id) — the raster dual of the vector diagram."""
    spark = points.sparkSession
    rows = spark.range(cfg.rows).select(F.col("id").alias("row"))
    cols = spark.range(cfg.cols).select(F.col("id").alias("col"))
    cells = rows.crossJoin(cols).select(
        "row", "col",
        (F.lit(cfg.west) + (F.col("col").cast("double") + 0.5) * cfg.res_x).alias("cx"),
        (F.lit(cfg.north) - (F.col("row").cast("double") + 0.5) * cfg.res_y).alias("cy"),
    )
    seeds = points.select(F.col(record).alias("sid"), "x", "y")
    from pyspark.sql import Window

    j = cells.join(F.broadcast(seeds))
    d2 = (F.col("cx") - F.col("x")) * (F.col("cx") - F.col("x")) + (
        F.col("cy") - F.col("y")
    ) * (F.col("cy") - F.col("y"))
    w = Window.partitionBy("row", "col").orderBy(d2.asc(), F.col("sid").asc())
    return (
        j.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("row", "col", F.col("sid").cast("double").alias("value"))
    )


def dinf_mass_flux(
    loading: DataFrame,
    efficiency: DataFrame,
    absorption: DataFrame,
    raster: DataFrame,
    cfg: GridConfig,
    max_rounds: int = 100,
    tile_size: int = 128,
) -> DataFrame:
    """DInfMassFlux (hydro_analysis/dinf_mass_flux.rs): outflux(c) =
    (influx(c) + loading(c) - absorption(c)) * efficiency(c), influx =
    sum of w_ab-weighted inflowing neighbour outflux over the DInf
    proportional edges of the DEM ``raster``."""
    from whitebox_tools_spark.operators.terrain3 import dinf_pointer

    dirs = dinf_pointer(raster, cfg, tile_size).localCheckpoint(eager=True)
    edges = dinf_edges(dirs, cfg).localCheckpoint(eager=True)
    base = (
        loading.select("row", "col", F.col("value").alias("l"))
        .join(efficiency.select("row", "col", F.col("value").alias("e")), ["row", "col"])
        .join(absorption.select("row", "col", F.col("value").alias("ab")), ["row", "col"])
        .join(dirs.select("row", "col"), ["row", "col"])
        .select(
            "row", "col", "l", "e", "ab",
            (F.col("row") * cfg.cols + F.col("col")).alias("id"),
        )
        .localCheckpoint(eager=True)
    )
    # only edges between cells present in the joined base
    ed = (
        edges.join(base.select(F.col("id").alias("a")), "a", "left_semi")
        .join(base.select(F.col("id").alias("b")), "b", "left_semi")
        .localCheckpoint(eager=True)
    )

    small = cfg.rows * cfg.cols <= 2_000_000

    def step(cur):
        influx = (
            ed.join(size_hint(cur, small), ed.a == cur.id)
            .groupBy("b")
            .agg(F.sum(F.col("w") * F.col("val")).alias("s"))
        )
        return (
            base.join(size_hint(influx.withColumnRenamed("b", "id"), small), "id", "left")
            .select(
                "id",
                (
                    (F.coalesce("s", F.lit(0.0)) + F.col("l") - F.col("ab"))
                    * F.col("e")
                ).alias("val"),
            )
        )

    cur = base.select("id", ((F.col("l") - F.col("ab")) * F.col("e")).alias("val"))
    cur = fixpoint(
        cur.localCheckpoint(eager=True), step, changed("id", "val"), max_rounds,
        "dinf_mass_flux",
    )
    return base.join(cur, "id").select("row", "col", F.col("val").alias("value"))
