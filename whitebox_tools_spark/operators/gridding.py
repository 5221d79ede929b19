"""Gridding / interpolation family: IDW, nearest-neighbour, block max/min.

Parity contracts:
- IdwInterpolation (src/tools/gis_analysis/idw_interpolation.rs:572-599):
  per output cell center ``x = west + (col+0.5)*res, y = north -
  (row+0.5)*res`` do a fixed-radius search; if fewer than ``min_points``
  hits, fall back to ``knn_search(min_points)`` (shell-stop rule,
  src/structures/fixed_radius_search.rs:134-218); if still short, the
  cell stays NoData. With hits: any zero-distance hit short-circuits to
  that z, else ``value = sum(z/d^w) / sum(1/d^w)``.
- NearestNeighbourGridding (nearest_neighbour_gridding.rs:420-430):
  per cell ``knn_search(1)``, keep only if ``dist <= max_dist``.
- BlockMaximumGridding / BlockMinimumGridding (block_maximum.rs:324-375,
  block_minimum.rs): per point ``col = floor((cols-1)*(x-west)/ew_range)``,
  ``row = floor((rows-1)*(north-y)/ns_range)`` (NOT the cell-center
  transform!); per-cell max/min of point z; empty cells NoData.
  LidarBlockMaximum/Minimum share the semantics.

Scale design: the output grid is generated JVM-side with ``spark.range``
(a narrow pipeline, any size). The radius search is ONE hash equi-join on
packed cell keys (the grid side explodes 5x5, the point side does not
move), and the kNN fallback runs ONLY over the under-populated cells —
at realistic densities that is a tiny fraction of the grid, so the
expensive path is a single shuffle join + one groupBy. Aggregations are
all map-side-combinable (sum/count/min/max). AQE skew-join covers hot
cells.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whitebox_tools_spark.operators.radius_join import knn_join, radius_join


@dataclass(frozen=True)
class GridConfig:
    """RasterConfigs subset (reference src/raster/mod.rs:1140-1175)."""

    rows: int
    cols: int
    north: float
    west: float
    res_x: float
    res_y: float
    nodata: float = -32768.0
    # EPSG code of the CRS, 0 = unknown (reference RasterConfigs
    # epsg_code, src/raster/mod.rs:1166); carried through the GeoTIFF
    # codec via the GeoKeyDirectory tag.
    epsg: int = 0
    # Whether the EPSG code names a geographic (lat/lon) CRS. None =
    # infer from the code (4000-4999 block minus the known projected
    # exceptions). The reference resolves this from its full EPSG
    # keyword tables (geotiff/mod.rs:2251-2344); set explicitly for
    # codes outside the common blocks (e.g. True for NAD83(2011) 6318,
    # GDA2020 7844).
    epsg_geographic: bool | None = None

    @property
    def south(self) -> float:
        return self.north - self.rows * self.res_y

    @property
    def east(self) -> float:
        return self.west + self.cols * self.res_x


def guard_driver_grid(
    cfg: GridConfig, max_cells: int, writer: str, alternative: str
) -> None:
    """Shared size guard for the single-file raster writers, which all
    assemble the full grid driver-side: past ``max_cells`` (2^28 ~ 2 GiB
    of f8 by convention, see write_geotiff) raise a clear error naming
    the scale path instead of OOMing the driver."""
    if cfg.rows * cfg.cols > max_cells:
        raise ValueError(
            f"grid has {cfg.rows * cfg.cols} cells > max_cells={max_cells}; "
            f"{writer} assembles the grid driver-side — {alternative}"
        )


def cell_centers(spark: SparkSession, cfg: GridConfig) -> DataFrame:
    """One row per output cell: (cell, row, col, x, y).

    Cell center arithmetic matches the gridding tools exactly:
    ``x = west + (col + 0.5) * res`` (idw_interpolation.rs:576-577) —
    same value as raster/mod.rs:620-642 but the *expression shape* is kept
    identical so float results are bit-identical with the oracles.
    """
    n = cfg.rows * cfg.cols
    df = spark.range(0, n, numPartitions=max(1, n // 65536) or 1)
    row = (F.col("id") / cfg.cols).cast("long")
    col = F.pmod(F.col("id"), F.lit(cfg.cols)).cast("long")
    return df.select(
        F.col("id").alias("cell"),
        row.alias("row"),
        col.alias("col"),
        (F.lit(cfg.west) + (col.cast("double") + F.lit(0.5)) * F.lit(cfg.res_x)).alias("x"),
        (F.lit(cfg.north) - (row.cast("double") + F.lit(0.5)) * F.lit(cfg.res_y)).alias("y"),
    )


def _idw_agg(joined: DataFrame, weight: float, min_points: int, z: str) -> DataFrame:
    """Per-cell IDW reduction over (cell, dist, z_p) neighbour pairs."""
    zp = F.col(f"{z}_p")
    d = F.col("dist")
    pos = d > F.lit(0.0)
    # weight=2 (the default) is computed as d*d, not pow(d, 2.0): identical
    # IEEE ops in Spark, DuckDB and numpy -> bit-parity with the oracles.
    dw = d * d if float(weight) == 2.0 else F.pow(d, F.lit(float(weight)))
    return (
        joined.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.min(F.when(d == 0.0, zp)).alias("_zero_z"),
            F.sum(F.when(pos, zp / dw)).alias("_num"),
            F.sum(F.when(pos, F.lit(1.0) / dw)).alias("_den"),
        )
        .where(F.col("_n") >= min_points)
        .select(
            "cell",
            F.when(F.col("_zero_z").isNotNull(), F.col("_zero_z"))
            .otherwise(F.col("_num") / F.col("_den"))
            .alias("value"),
        )
    )


def idw_grid(
    points: DataFrame,
    cfg: GridConfig,
    weight: float = 2.0,
    radius: float = 25.0,
    min_points: int = 1,
    z: str = "z",
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """IDW interpolation onto a grid. Output (cell, row, col, value);
    value is null (NoData) where even the kNN fallback finds < min_points."""
    spark = points.sparkSession
    cells = cell_centers(spark, cfg)

    near = radius_join(points, cells, radius, x=x, y=y).select(
        "cell", "dist", f"{z}_p"
    )
    values = _idw_agg(near, weight, min_points, z)

    # kNN fallback for cells the radius search under-populated; there is
    # none when min_points < 1 (a kNN of fewer than one point is empty)
    if min_points >= 1:
        counts = near.groupBy("cell").agg(F.count(F.lit(1)).alias("_n"))
        filled = counts.where(F.col("_n") >= min_points).select("cell")
        short_cells = cells.join(filled, "cell", "left_anti")
        fb = knn_join(
            points, short_cells, k=min_points, radius=radius, query_id="cell", x=x, y=y
        ).select("cell", "dist", f"{z}_p")
        values = values.unionByName(_idw_agg(fb, weight, min_points, z))
    return cells.join(values, "cell", "left").select("cell", "row", "col", "value")


def nn_grid(
    points: DataFrame,
    cfg: GridConfig,
    max_dist: float = float("inf"),
    radius: float = 25.0,
    z: str = "z",
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """NearestNeighbourGridding: knn_search(1) per cell, max_dist gate.

    ``radius`` sets the FRS bucket size (the reference derives it from the
    point density / IQR; here it is explicit)."""
    spark = points.sparkSession
    cells = cell_centers(spark, cfg)
    nn = (
        knn_join(points, cells, k=1, radius=radius, query_id="cell", x=x, y=y)
        .where(F.col("dist") <= F.lit(float(max_dist)))
        .select("cell", F.col(f"{z}_p").alias("value"))
    )
    return cells.join(nn, "cell", "left").select("cell", "row", "col", "value")


def block_cols(cfg: GridConfig, x: str = "x", y: str = "y"):
    """(row, col) Column pair under the block-gridding transform
    (block_maximum.rs:334-335) — floor((n-1) * offset / range)."""
    ew = cfg.east - cfg.west
    ns = cfg.north - cfg.south
    col = F.floor(F.lit(float(cfg.cols - 1)) * (F.col(x) - F.lit(cfg.west)) / F.lit(ew))
    row = F.floor(F.lit(float(cfg.rows - 1)) * (F.lit(cfg.north) - F.col(y)) / F.lit(ns))
    return row.cast("long"), col.cast("long")


def block_grid(
    points: DataFrame,
    cfg: GridConfig,
    stat: str = "max",
    z: str = "z",
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """BlockMaximum/MinimumGridding: per-cell max/min of contained points.

    One groupBy (map-side combinable); cells without points are NoData and
    omitted here (left-join onto cell_centers to materialize the full grid).
    """
    agg = F.max(z) if stat == "max" else F.min(z)
    row, col = block_cols(cfg, x, y)
    return (
        points.select(row.alias("row"), col.alias("col"), F.col(z))
        .where(
            (F.col("row") >= 0)
            & (F.col("row") < cfg.rows)
            & (F.col("col") >= 0)
            & (F.col("col") < cfg.cols)
        )
        .groupBy("row", "col")
        .agg(agg.alias("value"))
    )
