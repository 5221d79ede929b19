"""Query catalog: cost pathway, feathered mosaic, geomorphons."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from whitebox_tools_spark.catalog_cost import _cost_sql, SRC_MOD
from whitebox_tools_spark.catalog_grid import (
    GRID, _COL_SQL, _IN_GRID_SQL, _PTS_CTE, _ROW_SQL,
)
from whitebox_tools_spark.operators import misc4 as m4

TILE_SIZE = 8
DEST_MOD = 97
FEATHER_P = 2.0
GEO_DIST, GEO_FLAT = 500.0, 1.0
SPLIT_A, SPLIT_B = 12, 8


def _z(spark, sf_dir):
    from whitebox_tools_spark import catalog_cache as _cc
    return _cc.z_last(spark, sf_dir)


def _zfirst(spark, sf_dir):
    from whitebox_tools_spark import catalog_cache as _cc
    return _cc.z_first(spark, sf_dir)


def q_cost_pathway(spark, sf_dir):
    z = _z(spark, sf_dir)
    cell = F.col("row") * GRID.cols + F.col("col")
    source = z.select(
        "row", "col",
        F.when(F.pmod(cell, F.lit(SRC_MOD)) == 0, cell.cast("double"))
        .otherwise(0.0).alias("value"),
    )
    cost = z.select("row", "col", (F.col("value") / 10.0 + 1.0).alias("value"))
    dests = z.where(F.pmod(cell, F.lit(DEST_MOD)) == 0).select("row", "col")
    out = m4.cost_pathway(source, cost, dests, GRID, cost_rounds=64)
    return out.select(
        F.col("row").alias("cell_row"), F.col("col").alias("cell_col"), "value"
    )


def q_mosaic_feathering(spark, sf_dir):
    a = _z(spark, sf_dir).where(F.col("col") < SPLIT_A)
    b = _zfirst(spark, sf_dir).where(F.col("col") >= SPLIT_B)
    out = m4.mosaic_with_feathering(a, b, GRID, FEATHER_P)
    return out.select(
        F.col("row").alias("cell_row"), F.col("col").alias("cell_col"),
        F.round("value", 6).alias("value"),
    )


def q_geomorphons(spark, sf_dir):
    out = m4.geomorphons(_z(spark, sf_dir), GRID, GEO_DIST, GEO_FLAT)
    return out.select(
        F.col("row").alias("cell_row"), F.col("col").alias("cell_col"), "value"
    )


QUERIES = {
    "cost_pathway": q_cost_pathway,
    "mosaic_feathering": q_mosaic_feathering,
    "geomorphons": q_geomorphons,
}

HEADLINE = ("cost_pathway",)


# ------------------------------------------------------------- oracle SQL


def _pathway_sql() -> str:
    base = _cost_sql()
    head, _tail = base.rsplit("SELECT c.cell_row,", 1)
    body = f"""accf AS MATERIALIZED (SELECT c.id, c.cell_row, c.cell_col, s.acc
        FROM cells c JOIN s64 s ON s.id = c.id),
nxtm AS MATERIALIZED (
  SELECT a AS id, b AS nxt FROM (
    SELECT p.a, p.b,
           row_number() OVER (PARTITION BY p.a
             ORDER BY ab.acc + p.step ASC, p.b ASC) AS rn
    FROM prs p JOIN accf ab ON ab.id = p.b) t
  WHERE rn = 1),
dests AS (SELECT id FROM cells WHERE id % {DEST_MOD} = 0),
wk AS (SELECT id AS cur FROM dests
       UNION
       SELECT n.nxt FROM wk w
       JOIN accf a ON a.id = w.cur
       JOIN nxtm n ON n.id = w.cur
       WHERE a.acc > 0.0)
SELECT f.cell_row, f.cell_col, CAST(1.0 AS DOUBLE) AS value
FROM wk w JOIN accf f ON f.id = w.cur"""
    sql = f"""{head.rstrip().rstrip(',')},
{body}"""
    return sql.replace("WITH pts", "WITH RECURSIVE pts", 1)


def _feather_sql() -> str:
    def dom(name, cond, zexpr):
        return f"""{name} AS MATERIALIZED (SELECT {_ROW_SQL} AS cell_row, {_COL_SQL} AS cell_col,
        {zexpr} AS value
        FROM pts WHERE {_IN_GRID_SQL} AND {cond} GROUP BY cell_row, cell_col)"""

    def dmap(src, name):
        return f"""{name} AS MATERIALIZED (
  SELECT s.cell_row, s.cell_col, s.value,
    least(coalesce(md.dm, CAST('inf' AS DOUBLE)),
          CAST(least(s.cell_row + 1, s.cell_col + 1,
                     {GRID.rows} - s.cell_row, {GRID.cols} - s.cell_col) AS DOUBLE)
            * {GRID.res_x!r}) AS d
  FROM {src} s
  LEFT JOIN (
    SELECT s2.cell_row, s2.cell_col,
      sqrt(min((CAST(s2.cell_row - g.gr AS DOUBLE) * {GRID.res_y!r})
                 * (CAST(s2.cell_row - g.gr AS DOUBLE) * {GRID.res_y!r})
               + (CAST(s2.cell_col - g.gc AS DOUBLE) * {GRID.res_x!r})
                 * (CAST(s2.cell_col - g.gc AS DOUBLE) * {GRID.res_x!r}))) AS dm
    FROM {src} s2 CROSS JOIN (
      SELECT CAST(i // {GRID.cols} AS BIGINT) AS gr, CAST(i % {GRID.cols} AS BIGINT) AS gc
      FROM range(0, {GRID.rows * GRID.cols}) t(i)) g
    WHERE NOT EXISTS (SELECT 1 FROM {src} s3
                      WHERE s3.cell_row = g.gr AND s3.cell_col = g.gc)
    GROUP BY s2.cell_row, s2.cell_col) md
    ON md.cell_row = s.cell_row AND md.cell_col = s.cell_col)"""

    return f"""WITH {_PTS_CTE},
{dom('ra', f'{_COL_SQL} < {SPLIT_A}', 'arg_max(z, doc_id)')},
{dom('rb', f'{_COL_SQL} >= {SPLIT_B}', 'arg_min(z, doc_id)')},
{dmap('ra', 'dra')},
{dmap('rb', 'drb')},
j AS (SELECT coalesce(a.cell_row, b.cell_row) AS cell_row,
             coalesce(a.cell_col, b.cell_col) AS cell_col,
             a.value AS va, a.d AS da, b.value AS vb, b.d AS db
      FROM dra a FULL OUTER JOIN drb b
        ON a.cell_row = b.cell_row AND a.cell_col = b.cell_col)
SELECT cell_row, cell_col,
  round(CASE WHEN va IS NOT NULL AND vb IS NOT NULL
        THEN (pow(da, {FEATHER_P!r}) * va + pow(db, {FEATHER_P!r}) * vb)
             / (pow(da, {FEATHER_P!r}) + pow(db, {FEATHER_P!r}))
        ELSE coalesce(va, vb) END, 6) AS value
FROM j"""


def _geo_sql() -> str:
    k_max = int(GEO_DIST / GRID.res_x)
    dirs = []
    for d in range(8):
        azr = math.radians(d * 45.0)
        ddr = -math.cos(azr)
        ddc = math.sin(azr)
        dirs.append(f"""g{d} AS MATERIALIZED (
  SELECT s.r0, s.c0, max(ang) AS up, min(ang) AS dn FROM (
    SELECT c.cell_row AS r0, c.cell_col AS c0,
           degrees(atan((n.value - c.value) / (CAST(ks.k AS DOUBLE) * {GRID.res_x!r}))) AS ang
    FROM r c CROSS JOIN (SELECT CAST(i AS BIGINT) AS k FROM range(1, {k_max + 1}) x(i)) ks
    JOIN r n ON n.cell_row = CAST(floor(c.cell_row + CAST(ks.k AS DOUBLE) * {ddr!r} + 0.5) AS BIGINT)
            AND n.cell_col = CAST(floor(c.cell_col + CAST(ks.k AS DOUBLE) * {ddc!r} + 0.5) AS BIGINT)) s
  GROUP BY s.r0, s.c0)""")
        dirs.append(f"""t{d} AS (SELECT r0, c0,
  CASE WHEN up > {GEO_FLAT!r} AND up > -dn THEN 1
       WHEN -dn > {GEO_FLAT!r} AND -dn > up THEN -1 ELSE 0 END AS s{d}
  FROM g{d})""")
    joins = " ".join(
        f"JOIN t{d} ON t{d}.r0 = t0.r0 AND t{d}.c0 = t0.c0" for d in range(1, 8)
    )
    np_ = " + ".join(f"(CASE WHEN s{d} = 1 THEN 1 ELSE 0 END)" for d in range(8))
    nm_ = " + ".join(f"(CASE WHEN s{d} = -1 THEN 1 ELSE 0 END)" for d in range(8))
    from whitebox_tools_spark.catalog_grid import _PTS_RASTER_LAST_CTE

    joined = ",\n".join(dirs)
    return f"""WITH {_PTS_CTE},
{_PTS_RASTER_LAST_CTE},
{joined},
sg AS (SELECT t0.r0, t0.c0, {np_} AS np, {nm_} AS nm
       FROM t0 {joins})
SELECT r0 AS cell_row, c0 AS cell_col,
  CAST(CASE WHEN np = 0 AND nm = 0 THEN 1
       WHEN nm >= 7 THEN 2
       WHEN nm >= 5 AND np = 0 THEN 3
       WHEN nm >= 3 AND np <= 1 THEN 4
       WHEN nm > np THEN 5
       WHEN np >= 7 THEN 10
       WHEN np >= 5 AND nm = 0 THEN 9
       WHEN np >= 3 AND nm <= 1 THEN 8
       WHEN np > nm THEN 7
       ELSE 6 END AS DOUBLE) AS value
FROM sg"""


ORACLE_SQL = {
    "cost_pathway": _pathway_sql(),
    "mosaic_feathering": _feather_sql(),
    "geomorphons": _geo_sql(),
}
