"""Query catalog: tile-parallel focal raster transforms (SURVEY.md §2.6).

The raster under test is points_to_raster('last') over the shared 20x20
grid — sparse enough to exercise NoData handling in every stencil. Spark
runs the tile+halo engine at tile_size=8, so the 20x20 grid spans a 3x3
tile grid and every oracle match also proves seam-freedom.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whitebox_tools_spark import derive
from whitebox_tools_spark.catalog_grid import (
    GRID,
    _IN_GRID_SQL,
    _PTS_CTE,
    _PTS_RASTER_LAST_CTE,
    _COL_SQL,
    _ROW_SQL,
)
from whitebox_tools_spark.operators import focal
from whitebox_tools_spark.operators import raster as rop
from whitebox_tools_spark.sources.tables import documents

TILE_SIZE = 8
MEAN_K = 5  # 5x5 mean filter -> mid = 2
AGG_FACTOR = 2

# slope neighbour offsets (slope.rs:263-264)
_DX = focal._SLOPE_DX
_DY = focal._SLOPE_DY


def _docs_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    return derive.with_geometry(documents(spark, sf_dir), "doc_id")


def _raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whitebox_tools_spark import catalog_cache as _cc
    return _cc.z_last(spark, sf_dir)


def _aliased(df: DataFrame, round6: bool = True) -> DataFrame:
    v = F.round("value", 6) if round6 else F.col("value")
    return df.select(
        F.col("row").alias("cell_row"), F.col("col").alias("cell_col"), v.alias("value")
    )


def q_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _aliased(focal.slope(_raster(spark, sf_dir), GRID, tile_size=TILE_SIZE))


def q_mean_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _aliased(
        focal.mean_filter(
            _raster(spark, sf_dir), GRID, filter_x=MEAN_K, filter_y=MEAN_K, tile_size=TILE_SIZE
        )
    )


def q_aggregate_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _aliased(focal.aggregate_raster(_raster(spark, sf_dir), AGG_FACTOR, "mean"))


def q_mosaic(spark: SparkSession, sf_dir: str) -> DataFrame:
    geo = _docs_geo(spark, sf_dir)
    a = rop.points_to_raster(geo.where(F.pmod("doc_id", F.lit(2)) == 0), GRID, assign="last")
    b = rop.points_to_raster(geo.where(F.pmod("doc_id", F.lit(2)) == 1), GRID, assign="last")
    return _aliased(focal.mosaic([a, b]), round6=False)


def q_aspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _aliased(focal.aspect(_raster(spark, sf_dir), GRID, tile_size=TILE_SIZE))


def q_hillshade(spark: SparkSession, sf_dir: str) -> DataFrame:
    # output is a rounded integer scale — exact, no 6dp rounding needed
    return _aliased(
        focal.hillshade(_raster(spark, sf_dir), GRID, tile_size=TILE_SIZE), round6=False
    )


def q_max_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whitebox_tools_spark.operators.filters import stat_filter

    return _aliased(
        stat_filter(_raster(spark, sf_dir), GRID, "max", 5, 5, tile_size=TILE_SIZE),
        round6=False,
    )


def q_median_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whitebox_tools_spark.operators.filters import stat_filter

    return _aliased(
        stat_filter(_raster(spark, sf_dir), GRID, "median", 3, 3, tile_size=TILE_SIZE)
    )


def q_stdev_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whitebox_tools_spark.operators.filters import stdev_filter

    return _aliased(stdev_filter(_raster(spark, sf_dir), GRID, 5, 5, tile_size=TILE_SIZE))


def q_sobel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whitebox_tools_spark.operators.filters import gradient_filter

    return _aliased(
        gradient_filter(_raster(spark, sf_dir), GRID, "sobel", tile_size=TILE_SIZE)
    )


QUERIES = {
    "sobel": q_sobel,
    "slope": q_slope,
    "mean_filter": q_mean_filter,
    "aggregate_raster": q_aggregate_raster,
    "mosaic": q_mosaic,
    "aspect": q_aspect,
    "hillshade": q_hillshade,
    "max_filter": q_max_filter,
    "median_filter": q_median_filter,
    "stdev_filter": q_stdev_filter,
}

HEADLINE = ("slope", "mean_filter", "hillshade")


# ------------------------------------------------------------- oracle SQL


def _oracle_slope() -> str:
    joins, nbrs = [], []
    for k, (dx, dy) in enumerate(zip(_DX, _DY)):
        joins.append(
            f"LEFT JOIN r n{k} ON n{k}.cell_row = c.cell_row + ({dy}) "
            f"AND n{k}.cell_col = c.cell_col + ({dx})"
        )
        nbrs.append(f"coalesce(n{k}.value, c.value) AS n{k}")
    eight_res = GRID.res_x * 8.0
    return f"""
WITH {_PTS_CTE},
{_PTS_RASTER_LAST_CTE},
nb AS (SELECT c.cell_row, c.cell_col, {', '.join(nbrs)}
       FROM r c {' '.join(joins)}),
d AS (SELECT cell_row, cell_col,
             (n6 - n4 + 2.0 * (n7 - n3) + n0 - n2) / {eight_res!r} AS fy,
             (n2 - n4 + 2.0 * (n1 - n5) + n0 - n6) / {eight_res!r} AS fx
      FROM nb)
SELECT cell_row, cell_col,
       round(degrees(atan(sqrt(fx * fx + fy * fy))), 6) AS value
FROM d
"""


def _oracle_mean() -> str:
    mid = MEAN_K // 2
    return f"""
WITH {_PTS_CTE},
{_PTS_RASTER_LAST_CTE},
mn AS (SELECT min(value) AS m FROM r),
offs AS (SELECT a.i - {mid} AS dr, b.i - {mid} AS dc
         FROM range(0, {2 * mid + 1}) a(i), range(0, {2 * mid + 1}) b(i)),
-- window = rows greatest(row-mid,1)..least(row+mid,rows-1) (the reference's
-- clamped-integral quirk: row/col 0 never included); rows > rows-1 don't
-- exist in r, so only the >= 1 clamp needs an explicit predicate
j AS (SELECT c.cell_row, c.cell_col, mn.m,
             sum(n.value - mn.m) AS s, count(*) AS cnt
      FROM r c CROSS JOIN mn CROSS JOIN offs o
      JOIN r n ON n.cell_row = c.cell_row + o.dr AND n.cell_col = c.cell_col + o.dc
      WHERE c.cell_row + o.dr >= 1 AND c.cell_col + o.dc >= 1
      GROUP BY c.cell_row, c.cell_col, mn.m)
SELECT cell_row, cell_col, round(s / cnt + m, 6) AS value
FROM j
"""


def _oracle_aggregate() -> str:
    return f"""
WITH {_PTS_CTE},
{_PTS_RASTER_LAST_CTE}
SELECT CAST(cell_row // {AGG_FACTOR} AS BIGINT) AS cell_row,
       CAST(cell_col // {AGG_FACTOR} AS BIGINT) AS cell_col,
       round(avg(value), 6) AS value
FROM r GROUP BY 1, 2
"""


def _oracle_mosaic() -> str:
    half = f"""SELECT {_ROW_SQL} AS cell_row, {_COL_SQL} AS cell_col,
       arg_max(z, doc_id) AS value
FROM pts WHERE {_IN_GRID_SQL} AND doc_id % 2 = {{par}}
GROUP BY cell_row, cell_col"""
    return f"""
WITH {_PTS_CTE},
a AS ({half.format(par=0)}),
b AS ({half.format(par=1)})
SELECT coalesce(a.cell_row, b.cell_row) AS cell_row,
       coalesce(a.cell_col, b.cell_col) AS cell_col,
       coalesce(a.value, b.value) AS value
FROM a FULL OUTER JOIN b ON a.cell_row = b.cell_row AND a.cell_col = b.cell_col
"""


def _nbr_joins() -> tuple[str, str]:
    joins, nbrs = [], []
    for k, (dx, dy) in enumerate(zip(_DX, _DY)):
        joins.append(
            f"LEFT JOIN r n{k} ON n{k}.cell_row = c.cell_row + ({dy}) "
            f"AND n{k}.cell_col = c.cell_col + ({dx})"
        )
        nbrs.append(f"coalesce(n{k}.value, c.value) AS n{k}")
    return " ".join(joins), ", ".join(nbrs)


def _oracle_aspect() -> str:
    joins, nbrs = _nbr_joins()
    eight_res = GRID.res_x * 8.0
    return f"""
WITH {_PTS_CTE},
{_PTS_RASTER_LAST_CTE},
nb AS (SELECT c.cell_row, c.cell_col, {nbrs} FROM r c {joins}),
d AS (SELECT cell_row, cell_col,
             (n6 - n4 + 2.0 * (n7 - n3) + n0 - n2) / {eight_res!r} AS fy,
             (n2 - n4 + 2.0 * (n1 - n5) + n0 - n6) / {eight_res!r} AS fx
      FROM nb)
SELECT cell_row, cell_col,
       CASE WHEN fx > 0.0
            THEN round(180.0 - degrees(atan(fy / fx)) + 90.0 * sign(fx), 6)
            ELSE -1.0 END AS value
FROM d
"""


def _oracle_hillshade() -> str:
    import math

    joins, nbrs = _nbr_joins()
    eight_res = GRID.res_x * 8.0
    az = math.radians(315.0 - 90.0)
    sin_t = math.sin(math.radians(30.0))
    cos_t = math.cos(math.radians(30.0))
    return f"""
WITH {_PTS_CTE},
{_PTS_RASTER_LAST_CTE},
nb AS (SELECT c.cell_row, c.cell_col, {nbrs} FROM r c {joins}),
d AS (SELECT cell_row, cell_col,
             (n6 - n4 + 2.0 * (n7 - n3) + n0 - n2) / {eight_res!r} AS fy,
             (n2 - n4 + 2.0 * (n1 - n5) + n0 - n6) / {eight_res!r} AS fx
      FROM nb),
h AS (SELECT cell_row, cell_col,
             CASE WHEN fx <> 0.0 THEN
               (sqrt(fx*fx + fy*fy) / sqrt(1.0 + (fx*fx + fy*fy)))
               * ({sin_t!r} / sqrt(fx*fx + fy*fy)
                  - {cos_t!r} * sin({az!r} - (pi() - atan(fy / fx) + (pi() / 2.0) * sign(fx))))
             ELSE 0.5 END * 32767.0 AS z
      FROM d)
SELECT cell_row, cell_col, round(greatest(z, 0.0)) AS value FROM h
"""


def _oracle_stat_filter(stat_sql: str, mid: int, round6: bool) -> str:
    val = f"round({stat_sql}, 6)" if round6 else stat_sql
    return f"""
WITH {_PTS_CTE},
{_PTS_RASTER_LAST_CTE},
offs AS (SELECT a.i - {mid} AS dr, b.i - {mid} AS dc
         FROM range(0, {2 * mid + 1}) a(i), range(0, {2 * mid + 1}) b(i)),
j AS (SELECT c.cell_row, c.cell_col, {stat_sql.replace('VAL', 'n.value')} AS v
      FROM r c CROSS JOIN offs o
      JOIN r n ON n.cell_row = c.cell_row + o.dr AND n.cell_col = c.cell_col + o.dc
      GROUP BY c.cell_row, c.cell_col)
SELECT cell_row, cell_col, {'round(v, 6)' if round6 else 'v'} AS value FROM j
"""


def _oracle_stdev_filter(mid: int) -> str:
    return f"""
WITH {_PTS_CTE},
{_PTS_RASTER_LAST_CTE},
mn AS (SELECT min(value) AS m FROM r),
offs AS (SELECT a.i - {mid} AS dr, b.i - {mid} AS dc
         FROM range(0, {2 * mid + 1}) a(i), range(0, {2 * mid + 1}) b(i)),
j AS (SELECT c.cell_row, c.cell_col,
             sum(n.value - mn.m) AS s, sum((n.value - mn.m) * (n.value - mn.m)) AS s2,
             count(*) AS cnt
      FROM r c CROSS JOIN mn CROSS JOIN offs o
      JOIN r n ON n.cell_row = c.cell_row + o.dr AND n.cell_col = c.cell_col + o.dc
      WHERE c.cell_row + o.dr >= 1 AND c.cell_col + o.dc >= 1
      GROUP BY c.cell_row, c.cell_col),
v AS (SELECT cell_row, cell_col, (s2 - (s * s) / cnt) / cnt AS var FROM j)
SELECT cell_row, cell_col,
       round(CASE WHEN var > 0.0 THEN sqrt(var) ELSE 0.0 END, 6) AS value
FROM v
"""


def _oracle_sobel() -> str:
    from whitebox_tools_spark.operators.filters import GRADIENT_MASKS

    joins, nbrs = _nbr_joins()
    mx, my = GRADIENT_MASKS["sobel"]
    sx = " + ".join(f"n{i} * {mx[i]!r}" for i in range(8) if mx[i] != 0.0)
    sy = " + ".join(f"n{i} * {my[i]!r}" for i in range(8) if my[i] != 0.0)
    return f"""
WITH {_PTS_CTE},
{_PTS_RASTER_LAST_CTE},
nb AS (SELECT c.cell_row, c.cell_col, {nbrs} FROM r c {joins}),
g AS (SELECT cell_row, cell_col, ({sx}) AS sx, ({sy}) AS sy FROM nb)
SELECT cell_row, cell_col, round(sqrt(sx * sx + sy * sy), 6) AS value FROM g
"""


ORACLE_SQL = {
    "sobel": _oracle_sobel(),
    "slope": _oracle_slope(),
    "mean_filter": _oracle_mean(),
    "aggregate_raster": _oracle_aggregate(),
    "mosaic": _oracle_mosaic(),
    "aspect": _oracle_aspect(),
    "hillshade": _oracle_hillshade(),
    "max_filter": _oracle_stat_filter("max(VAL)", 2, round6=False),
    "median_filter": _oracle_stat_filter("median(VAL)", 1, round6=True),
    "stdev_filter": _oracle_stdev_filter(2),
}
