"""Query catalog: iterative / global-propagation family (SURVEY.md §2.8):
Clump (connected components), exact Euclidean distance/allocation, D8
pointer, D8 flow accumulation. Oracles use DuckDB recursive CTEs for the
transitive parts (component closure, flow-path walks).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whitebox_tools_spark import derive
from whitebox_tools_spark.catalog_grid import GRID, _IN_GRID_SQL, _COL_SQL, _PTS_CTE, _ROW_SQL
from whitebox_tools_spark.operators import hydro
from whitebox_tools_spark.operators import raster as rop
from whitebox_tools_spark.sources.tables import documents

TILE_SIZE = 8


def _geo(spark, sf_dir):
    return derive.with_geometry(documents(spark, sf_dir), "doc_id")


def _z_raster(spark, sf_dir):
    from whitebox_tools_spark import catalog_cache as _cc
    return _cc.z_last(spark, sf_dir)


def _cls_raster(spark, sf_dir):
    return rop.points_to_raster(_geo(spark, sf_dir), GRID, assign="max", field="cls").select(
        "row", "col", F.col("value").cast("double").alias("value")
    )


def _aliased(df: DataFrame) -> DataFrame:
    return df.select(
        F.col("row").alias("cell_row"), F.col("col").alias("cell_col"), "value"
    )


def q_clump(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _aliased(hydro.clump(_cls_raster(spark, sf_dir), GRID, diag=True, zero_back=True))


def q_euclidean_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _aliased(hydro.euclidean_distance(_z_raster(spark, sf_dir), GRID))


def q_euclidean_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _aliased(hydro.euclidean_distance(_z_raster(spark, sf_dir), GRID, allocation=True))


def q_d8_pointer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _aliased(hydro.d8_pointer(_z_raster(spark, sf_dir), GRID, tile_size=TILE_SIZE))


def q_d8_flow_accum(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _aliased(hydro.d8_flow_accumulation(_z_raster(spark, sf_dir), GRID, tile_size=TILE_SIZE))


POUR_MOD = 37


def q_watershed(spark: SparkSession, sf_dir: str) -> DataFrame:
    z = _z_raster(spark, sf_dir)
    cell = F.col("row") * GRID.cols + F.col("col")
    pour = z.where(F.pmod(cell, F.lit(POUR_MOD)) == 0).select(
        "row", "col", cell.cast("double").alias("value")
    )
    return _aliased(hydro.watershed(z, pour, GRID, tile_size=TILE_SIZE))


QUERIES = {
    "clump": q_clump,
    "euclidean_distance": q_euclidean_distance,
    "euclidean_allocation": q_euclidean_allocation,
    "d8_pointer": q_d8_pointer,
    "d8_flow_accum": q_d8_flow_accum,
    "watershed": q_watershed,
}

HEADLINE = ("d8_flow_accum", "watershed", "euclidean_distance")


# ------------------------------------------------------------- oracle SQL

_Z_CTE = f"""r AS (SELECT {_ROW_SQL} AS cell_row, {_COL_SQL} AS cell_col,
      arg_max(z, doc_id) AS value
      FROM pts WHERE {_IN_GRID_SQL} GROUP BY cell_row, cell_col)"""

_CLS_CTE = f"""r AS (SELECT {_ROW_SQL} AS cell_row, {_COL_SQL} AS cell_col,
      CAST(max(cls) AS DOUBLE) AS value
      FROM pts WHERE {_IN_GRID_SQL} GROUP BY cell_row, cell_col)"""

_D8_DX = hydro.D8_DX
_D8_DY = hydro.D8_DY
_DIAG = math.sqrt(GRID.res_x * GRID.res_x + GRID.res_y * GRID.res_y)
_LENS = [
    _DIAG, GRID.res_x, _DIAG, GRID.res_y, _DIAG, GRID.res_x, _DIAG, GRID.res_y
]


def _d8_dir_sql() -> str:
    """CTE chain computing per-cell D8 direction index (-1 = pit/flat)."""
    joins, slopes = [], []
    for i, (dx, dy) in enumerate(zip(_D8_DX, _D8_DY)):
        joins.append(
            f"LEFT JOIN r n{i} ON n{i}.cell_row = c.cell_row + ({dy}) "
            f"AND n{i}.cell_col = c.cell_col + ({dx})"
        )
        slopes.append(f"(c.value - n{i}.value) / {_LENS[i]!r} AS s{i}")
    pos = ", ".join(
        f"CASE WHEN s{i} > 0.0 THEN s{i} END AS p{i}" for i in range(8)
    )
    first_match = " ".join(f"WHEN p{i} = mx THEN {i}" for i in range(8))
    return f"""
sl AS (SELECT c.cell_row, c.cell_col, {', '.join(slopes)} FROM r c {' '.join(joins)}),
ps AS (SELECT cell_row, cell_col, {pos} FROM sl),
mxs AS (SELECT *, greatest(p0, p1, p2, p3, p4, p5, p6, p7) AS mx FROM ps),
dirs AS (SELECT cell_row, cell_col,
                CASE WHEN mx IS NULL THEN -1 {first_match} ELSE -1 END AS dir
         FROM mxs)"""


ORACLE_SQL = {
    "clump": f"""
WITH RECURSIVE {_PTS_CTE},
{_CLS_CTE},
nz AS (SELECT cell_row, cell_col, value, cell_row * {GRID.cols} + cell_col AS id
       FROM r WHERE value <> 0.0),
offs AS (SELECT a.i - 1 AS dr, b.i - 1 AS dc FROM range(0, 3) a(i), range(0, 3) b(i)
         WHERE NOT (a.i = 1 AND b.i = 1)),
e AS (SELECT x.id AS a, y.id AS b
      FROM nz x CROSS JOIN offs o
      JOIN nz y ON y.cell_row = x.cell_row + o.dr AND y.cell_col = x.cell_col + o.dc
      WHERE x.value = y.value),
cc AS (SELECT id AS node, id AS lbl FROM nz
       UNION
       SELECT e.b, cc.lbl FROM cc JOIN e ON e.a = cc.node),
comp AS (SELECT node, min(lbl) AS comp FROM cc GROUP BY node),
ranked AS (SELECT comp, CAST(row_number() OVER (ORDER BY comp) AS DOUBLE) AS fid
           FROM (SELECT DISTINCT comp FROM comp)),
fg AS (SELECT nz.cell_row, nz.cell_col, rk.fid AS value
       FROM nz JOIN comp ON nz.id = comp.node JOIN ranked rk ON comp.comp = rk.comp),
bg AS (SELECT cell_row, cell_col, 0.0 AS value FROM r WHERE value = 0.0)
SELECT * FROM fg UNION ALL SELECT * FROM bg
""",
    "euclidean_distance": f"""
WITH {_PTS_CTE},
{_Z_CTE},
t AS (SELECT cell_row, cell_col FROM r WHERE value <> 0.0),
cells AS (SELECT CAST(i // {GRID.cols} AS BIGINT) AS cell_row,
                 CAST(i % {GRID.cols} AS BIGINT) AS cell_col
          FROM range(0, {GRID.rows * GRID.cols}) g(i))
SELECT c.cell_row, c.cell_col,
       sqrt(min((CAST(c.cell_row - t.cell_row AS DOUBLE) * {GRID.res_y!r})
                  * (CAST(c.cell_row - t.cell_row AS DOUBLE) * {GRID.res_y!r})
                + (CAST(c.cell_col - t.cell_col AS DOUBLE) * {GRID.res_x!r})
                  * (CAST(c.cell_col - t.cell_col AS DOUBLE) * {GRID.res_x!r}))) AS value
FROM cells c CROSS JOIN t
GROUP BY c.cell_row, c.cell_col
""",
    "euclidean_allocation": f"""
WITH {_PTS_CTE},
{_Z_CTE},
t AS (SELECT cell_row, cell_col, value FROM r WHERE value <> 0.0),
cells AS (SELECT CAST(i // {GRID.cols} AS BIGINT) AS cell_row,
                 CAST(i % {GRID.cols} AS BIGINT) AS cell_col
          FROM range(0, {GRID.rows * GRID.cols}) g(i)),
d AS (SELECT c.cell_row, c.cell_col, t.value,
             (CAST(c.cell_row - t.cell_row AS DOUBLE) * {GRID.res_y!r})
               * (CAST(c.cell_row - t.cell_row AS DOUBLE) * {GRID.res_y!r})
             + (CAST(c.cell_col - t.cell_col AS DOUBLE) * {GRID.res_x!r})
               * (CAST(c.cell_col - t.cell_col AS DOUBLE) * {GRID.res_x!r}) AS d2,
             t.cell_row AS trow, t.cell_col AS tcol
      FROM cells c CROSS JOIN t)
SELECT cell_row, cell_col, value FROM d
QUALIFY row_number() OVER (PARTITION BY cell_row, cell_col ORDER BY d2, trow, tcol) = 1
""",
    "d8_pointer": f"""
WITH {_PTS_CTE},
{_Z_CTE},
{_d8_dir_sql().lstrip()}
SELECT cell_row, cell_col,
       CASE WHEN dir >= 0 THEN CAST([1.0,2.0,4.0,8.0,16.0,32.0,64.0,128.0][dir + 1] AS DOUBLE)
            ELSE 0.0 END AS value
FROM dirs
""",
    "d8_flow_accum": f"""
WITH RECURSIVE {_PTS_CTE},
{_Z_CTE},
{_d8_dir_sql().lstrip()},
nodes AS (SELECT cell_row, cell_col, cell_row * {GRID.cols} + cell_col AS id, dir FROM dirs),
down AS (SELECT id AS a,
                (cell_row + [{','.join(str(v) for v in _D8_DY)}][dir + 1]) * {GRID.cols}
                  + (cell_col + [{','.join(str(v) for v in _D8_DX)}][dir + 1]) AS b
         FROM nodes WHERE dir >= 0),
walk AS (SELECT id AS src, id AS cur FROM nodes
         UNION ALL
         SELECT w.src, d.b FROM walk w JOIN down d ON d.a = w.cur)
SELECT n.cell_row, n.cell_col, CAST(count(*) AS DOUBLE) AS value
FROM walk w JOIN nodes n ON n.id = w.cur
GROUP BY n.cell_row, n.cell_col
""",
    "watershed": f"""
WITH RECURSIVE {_PTS_CTE},
{_Z_CTE},
{_d8_dir_sql().lstrip()},
nodes AS (SELECT cell_row, cell_col, cell_row * {GRID.cols} + cell_col AS id, dir FROM dirs),
down AS (SELECT id AS a,
                (cell_row + [{','.join(str(v) for v in _D8_DY)}][dir + 1]) * {GRID.cols}
                  + (cell_col + [{','.join(str(v) for v in _D8_DX)}][dir + 1]) AS b
         FROM nodes WHERE dir >= 0),
pour AS (SELECT id, CAST(id AS DOUBLE) AS pour_id FROM nodes WHERE id % {{pm}} = 0),
walk AS (SELECT id AS src, id AS cur FROM nodes
         UNION ALL
         SELECT w.src, d.b FROM walk w JOIN down d ON d.a = w.cur
         WHERE w.cur NOT IN (SELECT id FROM pour))
SELECT n.cell_row, n.cell_col, p.pour_id AS value
FROM walk w JOIN pour p ON p.id = w.cur JOIN nodes n ON n.id = w.src
""".replace("{pm}", str(POUR_MOD)),
}
