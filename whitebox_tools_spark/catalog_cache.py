"""Session-scoped cache of the base rasters/graphs every catalog query
re-derives (z rasters, D8 dirs, flow accumulation, streams, filled DEM).

The driver and bench run the whole catalog against ONE sf_dir in one session;
without this each query re-executes the document scan -> derive ->
points_to_raster (and often the iterative D8 accumulation) from scratch.
Each entry is localCheckpoint'ed once per (session, sf_dir) — the
checkpoint is the batch analogue of the snapshot-stage reuse the engine
does between pipeline stages (see operators/../checkpoint.py).

Cache keys include the Spark applicationId so a fresh session (new JVM
or restarted driver) rebuilds cleanly.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_CACHE: dict = {}


def shared(spark: SparkSession, sf_dir: str, key: str, build: Callable[[], DataFrame]) -> DataFrame:
    k = (spark.sparkContext.applicationId, sf_dir, key)
    df = _CACHE.get(k)
    if df is None:
        df = build().localCheckpoint(eager=True)
        _CACHE[k] = df
    return df


def _geo(spark, sf_dir):
    from whitebox_tools_spark import derive
    from whitebox_tools_spark.sources.tables import documents

    return derive.with_geometry(documents(spark, sf_dir), "doc_id")


def z_last(spark, sf_dir) -> DataFrame:
    from whitebox_tools_spark.catalog_grid import GRID
    from whitebox_tools_spark.operators import raster as rop

    return shared(
        spark, sf_dir, "z_last",
        lambda: rop.points_to_raster(_geo(spark, sf_dir), GRID, assign="last"),
    )


def z_first(spark, sf_dir) -> DataFrame:
    from whitebox_tools_spark.catalog_grid import GRID
    from whitebox_tools_spark.operators import raster as rop

    return shared(
        spark, sf_dir, "z_first",
        lambda: rop.points_to_raster(_geo(spark, sf_dir), GRID, assign="first"),
    )


def z_min(spark, sf_dir) -> DataFrame:
    from whitebox_tools_spark.catalog_grid import GRID
    from whitebox_tools_spark.operators import raster as rop

    return shared(
        spark, sf_dir, "z_min",
        lambda: rop.points_to_raster(_geo(spark, sf_dir), GRID, assign="min"),
    )


def cls_raster(spark, sf_dir) -> DataFrame:
    from whitebox_tools_spark.catalog_grid import GRID
    from whitebox_tools_spark.operators import raster as rop

    return shared(
        spark, sf_dir, "cls",
        lambda: rop.points_to_raster(
            _geo(spark, sf_dir), GRID, assign="max", field="cls"
        ).select("row", "col", F.col("value").cast("double").alias("value")),
    )


def dirs(spark, sf_dir, tile_size: int = 8) -> DataFrame:
    from whitebox_tools_spark.catalog_grid import GRID
    from whitebox_tools_spark.operators.focal import focal_apply
    from whitebox_tools_spark.operators.hydro import _d8_dir_stencil

    return shared(
        spark, sf_dir, "d8_dirs",
        lambda: focal_apply(
            z_last(spark, sf_dir), GRID, _d8_dir_stencil(GRID, as_index=True), 1, tile_size
        ).select("row", "col", F.col("value").cast("int").alias("dir")),
    )


def accum(spark, sf_dir, tile_size: int = 8) -> DataFrame:
    from whitebox_tools_spark.catalog_grid import GRID
    from whitebox_tools_spark.operators import hydro

    return shared(
        spark, sf_dir, "d8_accum",
        lambda: hydro.d8_flow_accumulation(
            z_last(spark, sf_dir), GRID, tile_size=tile_size
        ),
    )


def streams_t(spark, sf_dir, threshold: float = 2.0, tile_size: int = 8) -> DataFrame:
    from whitebox_tools_spark.operators import trend

    return shared(
        spark, sf_dir, f"streams_{threshold}",
        lambda: trend.extract_streams(accum(spark, sf_dir, tile_size), threshold),
    )


def filled(spark, sf_dir, rounds: int = 64) -> DataFrame:
    from whitebox_tools_spark.catalog_grid import GRID
    from whitebox_tools_spark.operators.hydro2 import fill_depressions

    return shared(
        spark, sf_dir, f"filled_{rounds}",
        lambda: fill_depressions(z_last(spark, sf_dir), GRID, max_rounds=rounds),
    )


def pairs3d(spark, sf_dir, radius: float) -> DataFrame:
    from whitebox_tools_spark.operators.lidar import pairs_3d

    return shared(
        spark, sf_dir, f"pairs3d_{radius}",
        lambda: pairs_3d(_geo(spark, sf_dir), radius),
    )


def normals(spark, sf_dir, radius: float) -> DataFrame:
    from whitebox_tools_spark.operators.lidar import normal_vectors

    return shared(
        spark, sf_dir, f"normals_{radius}",
        lambda: normal_vectors(
            _geo(spark, sf_dir), radius, pairs=pairs3d(spark, sf_dir, radius)
        ),
    )
