"""Query catalog: final easy-wins batch."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whitebox_tools_spark import derive
from whitebox_tools_spark.catalog_grid import GRID, _PTS_CTE
from whitebox_tools_spark.catalog_hydro2 import _fill_sql, FILL_ROUNDS
from whitebox_tools_spark.catalog_iter import _Z_CTE, _d8_dir_sql
from whitebox_tools_spark.operators import hydro, misc3 as m3
from whitebox_tools_spark.sources import vectors
from whitebox_tools_spark.sources.tables import documents
from whitebox_tools_spark.localrel import local_df

TILE_SIZE = 8
WALL_H = 100.0
BURN = 20.0
TB_BANDS, TB_WL = 8, 200.0


def _z(spark, sf_dir):
    from whitebox_tools_spark import catalog_cache as _cc
    return _cc.z_last(spark, sf_dir)


def _rects(spark):
    rows = [
        dict(fid=fid, xmin=xmin, ymin=ymin, xmax=xmax, ymax=ymax)
        for fid, xmin, ymin, xmax, ymax, _h in vectors.RECT_SPECS
    ]
    return local_df(spark, rows)


def _wall_segments(spark):
    segs = []
    i = 0
    for fid, xmin, ymin, xmax, ymax, _h in vectors.RECT_SPECS:
        for x1, y1, x2, y2 in [
            (xmin, ymin, xmax, ymin), (xmax, ymin, xmax, ymax),
            (xmax, ymax, xmin, ymax), (xmin, ymax, xmin, ymin),
        ]:
            i += 1
            segs.append(dict(seg_id=i, x1=x1, y1=y1, x2=x2, y2=y2))
    return local_df(spark, segs)


def _aliased(df: DataFrame, round6: bool = False) -> DataFrame:
    v = F.round("value", 6) if round6 else F.col("value")
    return df.select(
        F.col("row").alias("cell_row"), F.col("col").alias("cell_col"), v.alias("value")
    )


QUERIES = {
    "flood_order": lambda s, d: _aliased(
        m3.flood_order(_z(s, d), GRID, FILL_ROUNDS)),
    "flatten_lakes": lambda s, d: _aliased(
        m3.flatten_lakes(_z(s, d), _rects(s), GRID)),
    "raise_walls": lambda s, d: _aliased(
        m3.raise_walls(_z(s, d), _wall_segments(s), GRID, WALL_H)),
    "burn_streams_at_roads": lambda s, d: _aliased(
        m3.burn_streams_at_roads(
            _z(s, d),
            local_df(s, vectors.line_layer_rows(vectors.LINE_SPECS_1)),
            local_df(s, vectors.line_layer_rows(vectors.LINE_SPECS_2)),
            GRID, BURN)),
    "turning_bands": lambda s, d: _aliased(
        m3.turning_bands(s, GRID, TB_BANDS, TB_WL), round6=True),
    "lidar_classify_subset": lambda s, d: m3.lidar_classify_subset(
        derive.with_geometry(documents(s, d), "doc_id"), _rects(s)).select(
            "doc_id", "cls_out"),
    "flow_length_diff": lambda s, d: _aliased(
        m3.flow_length_diff(_z(s, d), GRID, TILE_SIZE), round6=True),
}

HEADLINE = ("burn_streams_at_roads",)


# ------------------------------------------------------------- oracle SQL


def _flood_sql() -> str:
    return _fill_sql(f"""SELECT CAST(id // {GRID.cols} AS BIGINT) AS cell_row,
       CAST(id % {GRID.cols} AS BIGINT) AS cell_col,
       CAST(row_number() OVER (ORDER BY w ASC, id ASC) AS DOUBLE) AS value
FROM w{FILL_ROUNDS}""")


def _rects_vals() -> str:
    vals = ", ".join(
        f"({fid}, {xmin!r}, {ymin!r}, {xmax!r}, {ymax!r})"
        for fid, xmin, ymin, xmax, ymax, _h in vectors.RECT_SPECS
    )
    return f"rects(fid, xmin, ymin, xmax, ymax) AS (VALUES {vals})"


_CX = f"({GRID.west!r} + (CAST(cell_col AS DOUBLE) + 0.5) * {GRID.res_x!r})"
_CY = f"({GRID.north!r} - (CAST(cell_row AS DOUBLE) + 0.5) * {GRID.res_y!r})"

_FLATTEN_SQL = f"""WITH {_PTS_CTE},
{_Z_CTE},
{_rects_vals()},
j AS (SELECT r.cell_row, r.cell_col, r.value, rects.fid
      FROM r LEFT JOIN rects
        ON {_CX} >= rects.xmin AND {_CX} < rects.xmax
       AND {_CY} >= rects.ymin AND {_CY} < rects.ymax),
lm AS (SELECT fid, min(value) AS lmin FROM j WHERE fid IS NOT NULL GROUP BY fid)
SELECT j.cell_row, j.cell_col,
       CASE WHEN j.fid IS NOT NULL THEN lm.lmin ELSE j.value END AS value
FROM j LEFT JOIN lm ON lm.fid = j.fid"""


def _walls_vals() -> str:
    segs = []
    i = 0
    for fid, xmin, ymin, xmax, ymax, _h in vectors.RECT_SPECS:
        for x1, y1, x2, y2 in [
            (xmin, ymin, xmax, ymin), (xmax, ymin, xmax, ymax),
            (xmax, ymax, xmin, ymax), (xmin, ymax, xmin, ymin),
        ]:
            i += 1
            segs.append(f"({i}, {x1!r}, {y1!r}, {x2!r}, {y2!r})")
    return f"walls(seg_id, x1, y1, x2, y2) AS (VALUES {', '.join(segs)})"


_RAISE_SQL = f"""WITH {_PTS_CTE},
{_Z_CTE},
{_walls_vals()},
sn AS (SELECT *, greatest(CAST(ceil(sqrt((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1))
                               / {GRID.res_x / 2.0!r}) AS BIGINT), 1) AS n
       FROM walls),
ks AS (SELECT sn.*, g.i AS k FROM sn, range(0, 10000) g(i) WHERE g.i <= sn.n),
wc AS (SELECT DISTINCT
    CAST(floor(({GRID.north!r} - (y1 + (CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) * (y2 - y1))) / {GRID.res_y!r}) AS BIGINT) AS cell_row,
    CAST(floor(((x1 + (CAST(k AS DOUBLE) / CAST(n AS DOUBLE)) * (x2 - x1)) - {GRID.west!r}) / {GRID.res_x!r}) AS BIGINT) AS cell_col
  FROM ks)
SELECT r.cell_row, r.cell_col,
       CASE WHEN wc.cell_row IS NOT NULL THEN r.value + {WALL_H!r} ELSE r.value END AS value
FROM r LEFT JOIN wc ON wc.cell_row = r.cell_row AND wc.cell_col = r.cell_col"""


def _burn_roads_sql() -> str:
    return f"""WITH {_PTS_CTE},
{_Z_CTE},
{vectors.line_specs_sql(vectors.LINE_SPECS_1, 'l1')},
{vectors.line_specs_sql(vectors.LINE_SPECS_2, 'l2')},
j AS (SELECT a.x1 AS ax1, a.y1 AS ay1, a.x2 AS ax2, a.y2 AS ay2,
             b.x1 AS bx1, b.y1 AS by1, b.x2 AS bx2, b.y2 AS by2
      FROM l1 a JOIN l2 b
        ON least(a.x1, a.x2) <= greatest(b.x1, b.x2)
       AND greatest(a.x1, a.x2) >= least(b.x1, b.x2)
       AND least(a.y1, a.y2) <= greatest(b.y1, b.y2)
       AND greatest(a.y1, a.y2) >= least(b.y1, b.y2)),
m AS (SELECT *, (ax2 - ax1) AS rx, (ay2 - ay1) AS ry,
             (bx2 - bx1) AS sx, (by2 - by1) AS sy,
             (bx1 - ax1) AS qpx, (by1 - ay1) AS qpy FROM j),
tm AS (SELECT *, (qpx * sy - qpy * sx) / (rx * sy - ry * sx) AS t,
              (qpx * ry - qpy * rx) / (rx * sy - ry * sx) AS u
       FROM m WHERE rx * sy - ry * sx <> 0.0),
ip AS (SELECT ax1 + t * rx AS x, ay1 + t * ry AS y FROM tm
       WHERE t >= 0.0 AND t <= 1.0 AND u >= 0.0 AND u <= 1.0),
bc AS (SELECT DISTINCT
    CAST(floor(({GRID.north!r} - y) / {GRID.res_y!r}) AS BIGINT) AS cell_row,
    CAST(floor((x - {GRID.west!r}) / {GRID.res_x!r}) AS BIGINT) AS cell_col
  FROM ip)
SELECT r.cell_row, r.cell_col,
       CASE WHEN bc.cell_row IS NOT NULL THEN r.value - {BURN!r} ELSE r.value END AS value
FROM r LEFT JOIN bc ON bc.cell_row = r.cell_row AND bc.cell_col = r.cell_col"""


def _tb_sql() -> str:
    terms = []
    for k in range(TB_BANDS):
        a = ((k * m3.TB_A1 + m3.TB_B1) % m3._M32) / float(m3._M32) * 2.0 * math.pi
        phi = ((k * m3.TB_A2 + m3.TB_B2) % m3._M32) / float(m3._M32) * 2.0 * math.pi
        terms.append(
            f"cos(2.0 * {math.pi!r} * (x * {math.cos(a)!r} + y * {math.sin(a)!r}) / {TB_WL!r} + {phi!r})"
        )
    expr = " + ".join(terms)
    return f"""WITH cells AS (
  SELECT CAST(i // {GRID.cols} AS BIGINT) AS cell_row,
         CAST(i % {GRID.cols} AS BIGINT) AS cell_col,
         ({GRID.west!r} + (CAST(i % {GRID.cols} AS DOUBLE) + 0.5) * {GRID.res_x!r}) AS x,
         ({GRID.north!r} - (CAST(i // {GRID.cols} AS DOUBLE) + 0.5) * {GRID.res_y!r}) AS y
  FROM range(0, {GRID.rows * GRID.cols}) t(i))
SELECT cell_row, cell_col, round({expr}, 6) AS value FROM cells"""


_CLASSIFY_SQL = f"""WITH {_PTS_CTE},
{_rects_vals()}
SELECT p.doc_id,
       CASE WHEN EXISTS (SELECT 1 FROM rects
             WHERE p.x >= rects.xmin AND p.x < rects.xmax
               AND p.y >= rects.ymin AND p.y < rects.ymax)
            THEN 2.0 ELSE CAST(p.cls AS DOUBLE) END AS cls_out
FROM pts p"""


def _fld_sql() -> str:
    diag = math.sqrt(GRID.res_x**2 + GRID.res_y**2)
    lens = [diag, GRID.res_x, diag, GRID.res_y, diag, GRID.res_x, diag, GRID.res_y]
    dys = ",".join(str(v) for v in hydro.D8_DY)
    dxs = ",".join(str(v) for v in hydro.D8_DX)
    arr = "[" + ",".join(repr(v) for v in lens) + "]"
    offs = ", ".join(f"({hydro.D8_DY[i]}, {hydro.D8_DX[i]})" for i in range(8))
    return f"""WITH RECURSIVE {_PTS_CTE},
{_Z_CTE},
{_d8_dir_sql().lstrip()},
nodes AS (SELECT cell_row, cell_col, cell_row * {GRID.cols} + cell_col AS id, dir FROM dirs),
down AS MATERIALIZED (SELECT id AS a,
                (cell_row + [{dys}][dir + 1]) * {GRID.cols}
                  + (cell_col + [{dxs}][dir + 1]) AS b,
                {arr}[dir + 1] AS len
         FROM nodes WHERE dir >= 0),
wk AS (SELECT id AS src, id AS cur, CAST(0.0 AS DOUBLE) AS d FROM nodes
       UNION ALL
       SELECT w.src, e.b, w.d + e.len FROM wk w JOIN down e ON e.a = w.cur),
dfl AS MATERIALIZED (SELECT n.cell_row, n.cell_col, max(w.d) AS v
       FROM wk w JOIN nodes n ON n.id = w.src GROUP BY n.cell_row, n.cell_col),
o8 AS (SELECT * FROM (VALUES {offs}) o(dr, dc))
SELECT c.cell_row, c.cell_col,
       round(coalesce(max(abs(c.v - n.v)), 0.0), 6) AS value
FROM dfl c CROSS JOIN o8 o
LEFT JOIN dfl n ON n.cell_row = c.cell_row + o.dr AND n.cell_col = c.cell_col + o.dc
GROUP BY c.cell_row, c.cell_col"""


ORACLE_SQL = {
    "flood_order": _flood_sql(),
    "flatten_lakes": _FLATTEN_SQL,
    "raise_walls": _RAISE_SQL,
    "burn_streams_at_roads": _burn_roads_sql(),
    "turning_bands": _tb_sql(),
    "lidar_classify_subset": _CLASSIFY_SQL,
    "flow_length_diff": _fld_sql(),
}
