"""Query catalog: zonal aggregation + hex binning (SURVEY.md §2.7, §2.2).

Zone raster = polygons_to_raster(rect_layer) painted over the shared grid;
data raster = points_to_raster('last'). Hex binning runs over the derived
document points with the reference's nearest-center semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whitebox_tools_spark import derive
from whitebox_tools_spark.catalog_grid import GRID, _PTS_CTE, _PTS_RASTER_LAST_CTE
from whitebox_tools_spark.operators import raster as rop
from whitebox_tools_spark.operators import zonal
from whitebox_tools_spark.operators.hexbin import hex_bin, hex_bin_sql
from whitebox_tools_spark.sources import vectors
from whitebox_tools_spark.sources.tables import documents

HEX_WIDTH = 120.0

_ZONE_SQL = f"""
z AS (SELECT cell_row, cell_col,
             CAST(round(CAST({vectors.rect_layer_fid_case()} AS DOUBLE)) AS BIGINT) AS zone
      FROM cells WHERE {vectors.rect_layer_sql_predicate()})"""


def _docs_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    return derive.with_geometry(documents(spark, sf_dir), "doc_id")


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    data = rop.points_to_raster(_docs_geo(spark, sf_dir), GRID, assign="last")
    zones = rop.polygons_to_raster(spark, vectors.rect_layer(), GRID, field="zone")
    out = zonal.zonal_statistics(data, zones)
    return out.select(
        "zone",
        "n",
        F.round("total", 6).alias("total"),
        F.round("mean", 6).alias("mean"),
        "min_v",
        "max_v",
        "range_v",
        F.round("stddev", 6).alias("stddev"),
        F.round("median", 6).alias("median"),
    )


def q_cross_tab(spark: SparkSession, sf_dir: str) -> DataFrame:
    geo = _docs_geo(spark, sf_dir)
    r1 = rop.points_to_raster(geo, GRID, assign="last", field="cls")
    r2 = rop.polygons_to_raster(spark, vectors.rect_layer(), GRID, field="zone")
    return zonal.cross_tabulation(r1, r2)


def q_hex_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hex_bin(_docs_geo(spark, sf_dir), HEX_WIDTH)


QUERIES = {
    "zonal_stats": q_zonal_stats,
    "cross_tab": q_cross_tab,
    "hex_bin": q_hex_bin,
}

HEADLINE = ("zonal_stats", "hex_bin")

from whitebox_tools_spark.catalog_grid import _CELLS_CTE  # noqa: E402

ORACLE_SQL = {
    "zonal_stats": f"""
WITH {_PTS_CTE},
{_PTS_RASTER_LAST_CTE},
{_CELLS_CTE},
{_ZONE_SQL.lstrip()},
j AS (SELECT z.zone, r.value FROM r JOIN z USING (cell_row, cell_col)),
g AS (SELECT zone, count(*) AS n, sum(value) AS total, avg(value) AS mean,
             min(value) AS mn, max(value) AS mx,
             stddev_samp(value) AS sd, median(value) AS med
      FROM j GROUP BY zone)
SELECT zone, n, round(total, 6) AS total, round(mean, 6) AS mean,
       mn AS min_v, mx AS max_v, mx - mn AS range_v,
       CASE WHEN n > 1 THEN round(sd, 6) ELSE 0.0 END AS stddev,
       CASE WHEN n > 1 THEN round(med, 6) ELSE 0.0 END AS median
FROM g
""",
    "cross_tab": f"""
WITH {_PTS_CTE},
r1 AS (SELECT CAST(floor(({GRID.north!r} - y) / {GRID.res_y!r}) AS BIGINT) AS cell_row,
              CAST(floor((x - {GRID.west!r}) / {GRID.res_x!r}) AS BIGINT) AS cell_col,
              arg_max(CAST(cls AS DOUBLE), doc_id) AS value
       FROM pts
       WHERE floor(({GRID.north!r} - y) / {GRID.res_y!r}) BETWEEN 0 AND {GRID.rows - 1}
         AND floor((x - {GRID.west!r}) / {GRID.res_x!r}) BETWEEN 0 AND {GRID.cols - 1}
       GROUP BY cell_row, cell_col),
{_CELLS_CTE},
{_ZONE_SQL.lstrip()}
SELECT CAST(round(r1.value) AS BIGINT) AS v1, z.zone AS v2, count(*) AS n
FROM r1 JOIN z USING (cell_row, cell_col)
GROUP BY v1, v2
""",
    "hex_bin": f"""
WITH {_PTS_CTE},
{hex_bin_sql(HEX_WIDTH).lstrip()}
SELECT g.fid, g.hex_row, g.hex_col, coalesce(c.count_, 0) AS count_
FROM grid g LEFT JOIN counts c USING (hex_row, hex_col)
""",
}
