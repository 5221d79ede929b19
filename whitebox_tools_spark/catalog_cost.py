"""Query catalog: cost surface family, D8 mass flux, stream-payload
basins, watershed-relative elevation, line intersections."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whitebox_tools_spark import derive
from whitebox_tools_spark.catalog_grid import GRID, _PTS_CTE
from whitebox_tools_spark.catalog_iter import _Z_CTE, _d8_dir_sql
from whitebox_tools_spark.operators import cost as cop
from whitebox_tools_spark.operators import hydro, hydro2, streams as sop, trend
from whitebox_tools_spark.operators import raster as rop
from whitebox_tools_spark.operators.focal import focal_apply
from whitebox_tools_spark.operators.hydro import _d8_dir_stencil
from whitebox_tools_spark.sources import vectors
from whitebox_tools_spark.sources.tables import documents
from whitebox_tools_spark.localrel import local_df

TILE_SIZE = 8
COST_ROUNDS = 64
FLUX_ROUNDS = 64
SRC_MOD = 53
ST_THRESHOLD = 2.0


def _geo(spark, sf_dir):
    return derive.with_geometry(documents(spark, sf_dir), "doc_id")


def _z(spark, sf_dir):
    from whitebox_tools_spark import catalog_cache as _cc
    return _cc.z_last(spark, sf_dir)


def _cost_inputs(spark, sf_dir):
    z = _z(spark, sf_dir)
    cell = F.col("row") * GRID.cols + F.col("col")
    source = z.select(
        "row", "col",
        F.when(F.pmod(cell, F.lit(SRC_MOD)) == 0, cell.cast("double"))
        .otherwise(0.0).alias("value"),
    )
    cost = z.select("row", "col", (F.col("value") / 10.0 + 1.0).alias("value"))
    return source, cost


def q_cost_distance(spark, sf_dir):
    source, cost = _cost_inputs(spark, sf_dir)
    out = cop.cost_distance(source, cost, GRID, max_rounds=COST_ROUNDS)
    return out.select(
        F.col("row").alias("cell_row"), F.col("col").alias("cell_col"),
        F.col("value"), "alloc",
    )


def q_mass_flux(spark, sf_dir):
    geo = _geo(spark, sf_dir)
    z = _z(spark, sf_dir)
    loading = z
    cls = rop.points_to_raster(geo, GRID, assign="max", field="cls")
    eff = cls.select("row", "col", (F.col("value") / 20.0 + 0.5).alias("value"))
    absorb = rop.points_to_raster(geo, GRID, assign="first").select(
        "row", "col", (F.col("value") * 0.1).alias("value")
    )
    from whitebox_tools_spark import catalog_cache as _cc3
    dirs = _cc3.dirs(spark, sf_dir, TILE_SIZE)
    out = cop.d8_mass_flux(loading, eff, absorb, dirs, GRID, FLUX_ROUNDS)
    return out.select(
        F.col("row").alias("cell_row"), F.col("col").alias("cell_col"),
        F.round("value", 6).alias("value"),
    )


def _stream_graph(spark, sf_dir):
    z = _z(spark, sf_dir)
    from whitebox_tools_spark import catalog_cache as _cc2
    accum = _cc2.accum(spark, sf_dir, TILE_SIZE)
    st = trend.extract_streams(accum, ST_THRESHOLD)
    from whitebox_tools_spark import catalog_cache as _cc3
    dirs = _cc3.dirs(spark, sf_dir, TILE_SIZE)
    return z, st, dirs


def q_subbasins(spark, sf_dir):
    z, st, dirs = _stream_graph(spark, sf_dir)
    nodes, edges = sop.stream_graph(st, dirs, GRID)
    links = sop._links(nodes, edges)
    payload = nodes.join(links, "id").select(
        "row", "col", F.col("link").alias("payload")
    )
    out = cop.stream_payload_basins(z, payload, GRID, TILE_SIZE)
    return out.select(
        F.col("row").alias("cell_row"), F.col("col").alias("cell_col"), "value"
    )


def q_strahler_basins(spark, sf_dir):
    z, st, dirs = _stream_graph(spark, sf_dir)
    orders = sop_strahler(st, dirs)
    payload = orders.select("row", "col", F.col("value").alias("payload"))
    out = cop.stream_payload_basins(z, payload, GRID, TILE_SIZE)
    return out.select(
        F.col("row").alias("cell_row"), F.col("col").alias("cell_col"), "value"
    )


def sop_strahler(st, dirs):
    from whitebox_tools_spark.operators.cluster import strahler_order

    return strahler_order(st, dirs, GRID, max_rounds=64)


def q_elev_rel_watershed(spark, sf_dir):
    z = _z(spark, sf_dir)
    basins = hydro2.basins(z, GRID, tile_size=TILE_SIZE)
    out = cop.elev_relative_to_watershed_minmax(z, basins, GRID)
    return out.select(
        F.col("row").alias("cell_row"), F.col("col").alias("cell_col"),
        F.round("value", 6).alias("value"),
    )


def q_line_intersections(spark, sf_dir):
    # tiny fixture frames: one partition keeps the non-equi join from
    # fanning out into hundreds of empty tasks
    l1 = local_df(spark, vectors.line_layer_rows(vectors.LINE_SPECS_1))
    l2 = local_df(spark, vectors.line_layer_rows(vectors.LINE_SPECS_2))
    return cop.line_intersections(l1, l2).select(
        "s1", "s2", F.round("x", 6).alias("x"), F.round("y", 6).alias("y")
    )


QUERIES = {
    "cost_distance": q_cost_distance,
    "d8_mass_flux": q_mass_flux,
    "subbasins": q_subbasins,
    "strahler_order_basins": q_strahler_basins,
    "elev_relative_to_watershed": q_elev_rel_watershed,
    "line_intersections": q_line_intersections,
}

HEADLINE = ("line_intersections",)


# ------------------------------------------------------------- oracle SQL

_DIAG = math.sqrt(GRID.res_x**2 + GRID.res_y**2)
_LENS = [_DIAG, GRID.res_x, _DIAG, GRID.res_y, _DIAG, GRID.res_x, _DIAG, GRID.res_y]
_DYS = ",".join(str(v) for v in hydro.D8_DY)
_DXS = ",".join(str(v) for v in hydro.D8_DX)
_LEN_ARR = "[" + ",".join(repr(v) for v in _LENS) + "]"


def _cost_sql() -> str:
    offs = ", ".join(
        f"({hydro.D8_DY[i]}, {hydro.D8_DX[i]}, {_LENS[i]!r})" for i in range(8)
    )
    blocks = [
        f"""cells AS MATERIALIZED (SELECT cell_row, cell_col,
        cell_row * {GRID.cols} + cell_col AS id,
        CASE WHEN (cell_row * {GRID.cols} + cell_col) % {SRC_MOD} = 0
             THEN CAST(cell_row * {GRID.cols} + cell_col AS DOUBLE) ELSE 0.0 END AS src,
        value / 10.0 + 1.0 AS c
        FROM r),
o8 AS (SELECT * FROM (VALUES {offs}) o(dr, dc, dist)),
prs AS MATERIALIZED (SELECT a.id AS a, b.id AS b, (a.c + b.c) / 2.0 * o.dist AS step
       FROM cells a CROSS JOIN o8 o
       JOIN cells b ON b.cell_row = a.cell_row + o.dr AND b.cell_col = a.cell_col + o.dc),
s0 AS MATERIALIZED (SELECT id,
        CASE WHEN src > 0.0 THEN 0.0 ELSE CAST('inf' AS DOUBLE) END AS acc,
        CASE WHEN src > 0.0 THEN src ELSE CAST('inf' AS DOUBLE) END AS alloc
        FROM cells)"""
    ]
    for i in range(1, COST_ROUNDS + 1):
        blocks.append(
            f"""s{i} AS MATERIALIZED (
  SELECT id, acc, alloc FROM (
    SELECT id, acc, alloc FROM s{i-1}
    UNION ALL
    SELECT p.b AS id, s.acc + p.step AS acc, s.alloc
    FROM prs p JOIN s{i-1} s ON s.id = p.a) t
  QUALIFY row_number() OVER (PARTITION BY id ORDER BY acc ASC, alloc ASC) = 1)"""
        )
    joined = ",\n".join(blocks)
    return f"""WITH {_PTS_CTE},
{_Z_CTE},
{joined}
SELECT c.cell_row, c.cell_col, s.acc AS value, s.alloc
FROM cells c JOIN s{COST_ROUNDS} s ON s.id = c.id"""


def _mass_flux_sql() -> str:
    row_sql = f"CAST(floor((1000.0 - y) / 50.0) AS BIGINT)"
    col_sql = f"CAST(floor((x - 0.0) / 50.0) AS BIGINT)"
    in_grid = (
        f"{row_sql} >= 0 AND {row_sql} < {GRID.rows} AND {col_sql} >= 0 AND {col_sql} < {GRID.cols}"
    )
    blocks = [
        f"""bands AS MATERIALIZED (
  SELECT {row_sql} AS cell_row, {col_sql} AS cell_col,
         arg_max(z, doc_id) AS l,
         CAST(max(cls) AS DOUBLE) / 20.0 + 0.5 AS e,
         arg_min(z, doc_id) * 0.1 AS ab
  FROM pts WHERE {in_grid}
  GROUP BY cell_row, cell_col),
nodes2 AS MATERIALIZED (SELECT b.cell_row, b.cell_col,
        b.cell_row * {GRID.cols} + b.cell_col AS id, b.l, b.e, b.ab, d.dir
        FROM bands b JOIN dirs d ON d.cell_row = b.cell_row AND d.cell_col = b.cell_col),
ed2 AS MATERIALIZED (SELECT id AS a,
        (cell_row + [{_DYS}][dir + 1]) * {GRID.cols}
          + (cell_col + [{_DXS}][dir + 1]) AS b
        FROM nodes2 WHERE dir >= 0),
ed3 AS MATERIALIZED (SELECT e.a, e.b FROM ed2 e JOIN nodes2 n ON n.id = e.b),
f0 AS MATERIALIZED (SELECT id, (l - ab) * e AS val FROM nodes2)"""
    ]
    for i in range(1, FLUX_ROUNDS + 1):
        blocks.append(
            f"""f{i} AS MATERIALIZED (SELECT n.id,
  (coalesce(u.s, 0.0) + n.l - n.ab) * n.e AS val
  FROM nodes2 n LEFT JOIN (SELECT e.b, sum(f.val) AS s
                           FROM ed3 e JOIN f{i-1} f ON f.id = e.a GROUP BY e.b) u
    ON u.b = n.id)"""
        )
    joined = ",\n".join(blocks)
    return f"""WITH {_PTS_CTE},
{_Z_CTE},
{_d8_dir_sql().lstrip()},
{joined}
SELECT n.cell_row, n.cell_col, round(f.val, 6) AS value
FROM nodes2 n JOIN f{FLUX_ROUNDS} f ON f.id = n.id"""


_STREAM_SCAFFOLD = f"""nodes AS (SELECT cell_row, cell_col, cell_row * {GRID.cols} + cell_col AS id, dir FROM dirs),
down AS MATERIALIZED (SELECT id AS a,
                (cell_row + [{_DYS}][dir + 1]) * {GRID.cols}
                  + (cell_col + [{_DXS}][dir + 1]) AS b
         FROM nodes WHERE dir >= 0),
walk0 AS (SELECT id AS src, id AS cur FROM nodes
          UNION ALL
          SELECT w.src, d.b FROM walk0 w JOIN down d ON d.a = w.cur),
accum AS (SELECT cur AS id, CAST(count(*) AS DOUBLE) AS value FROM walk0 GROUP BY cur),
snodes AS MATERIALIZED (SELECT n.* FROM nodes n JOIN accum a ON a.id = n.id
         WHERE a.value > {ST_THRESHOLD!r}),
sedges AS MATERIALIZED (SELECT d.a, d.b FROM down d
         JOIN snodes x ON x.id = d.a JOIN snodes y ON y.id = d.b),
inflow AS MATERIALIZED (SELECT b, count(*) AS n_in FROM sedges GROUP BY b)"""


def _subbasins_sql() -> str:
    return f"""WITH RECURSIVE {_PTS_CTE},
{_Z_CTE},
{_d8_dir_sql().lstrip()},
{_STREAM_SCAFFOLD},
intra AS (SELECT e.a, e.b FROM sedges e JOIN inflow i ON i.b = e.b WHERE i.n_in = 1),
sym AS (SELECT a, b FROM intra UNION ALL SELECT b, a FROM intra),
cc AS (SELECT id AS node, id AS lbl FROM snodes
       UNION
       SELECT s.b, cc.lbl FROM cc JOIN sym s ON s.a = cc.node),
comp AS MATERIALIZED (SELECT node, min(lbl) AS comp FROM cc GROUP BY node),
ranked AS (SELECT comp, row_number() OVER (ORDER BY comp) AS link
           FROM (SELECT DISTINCT comp FROM comp)),
payload AS MATERIALIZED (SELECT c.node AS id, CAST(r.link AS DOUBLE) AS p
           FROM comp c JOIN ranked r ON r.comp = c.comp),
sw AS (SELECT id AS src, id AS cur FROM nodes
       UNION ALL
       SELECT w.src, e.b FROM sw w JOIN down e ON e.a = w.cur
       WHERE w.cur NOT IN (SELECT id FROM payload))
SELECT n.cell_row, n.cell_col, p.p AS value
FROM sw w JOIN payload p ON p.id = w.cur JOIN nodes n ON n.id = w.src"""


ST_ROUNDS = 64


def _strahler_basins_sql() -> str:
    blocks = ["ord0 AS (SELECT id, 1 AS ord FROM snodes)"]
    for i in range(1, ST_ROUNDS + 1):
        blocks.append(
            f"agg{i} AS (SELECT e.b, o.ord, count(*) AS cnt FROM sedges e "
            f"JOIN ord{i-1} o ON o.id = e.a GROUP BY e.b, o.ord)"
        )
        blocks.append(
            f"m{i} AS (SELECT b, max(ord) AS mx, max_by(cnt, ord) AS cnt "
            f"FROM agg{i} GROUP BY b)"
        )
        blocks.append(
            f"ord{i} AS MATERIALIZED (SELECT s.id, coalesce(CASE WHEN m.cnt >= 2 THEN m.mx + 1 "
            f"ELSE m.mx END, 1) AS ord FROM snodes s LEFT JOIN m{i} m ON m.b = s.id)"
        )
    joined = ",\n".join(blocks)
    return f"""WITH RECURSIVE {_PTS_CTE},
{_Z_CTE},
{_d8_dir_sql().lstrip()},
{_STREAM_SCAFFOLD},
{joined},
payload AS MATERIALIZED (SELECT id, CAST(ord AS DOUBLE) AS p FROM ord{ST_ROUNDS}),
sw AS (SELECT id AS src, id AS cur FROM nodes
       UNION ALL
       SELECT w.src, e.b FROM sw w JOIN down e ON e.a = w.cur
       WHERE w.cur NOT IN (SELECT id FROM payload))
SELECT n.cell_row, n.cell_col, p.p AS value
FROM sw w JOIN payload p ON p.id = w.cur JOIN nodes n ON n.id = w.src"""


def _erw_sql() -> str:
    return f"""WITH RECURSIVE {_PTS_CTE},
{_Z_CTE},
{_d8_dir_sql().lstrip()},
nodes AS (SELECT cell_row, cell_col, cell_row * {GRID.cols} + cell_col AS id, dir FROM dirs),
down AS MATERIALIZED (SELECT id AS a,
                (cell_row + [{_DYS}][dir + 1]) * {GRID.cols}
                  + (cell_col + [{_DXS}][dir + 1]) AS b
         FROM nodes WHERE dir >= 0),
wk AS (SELECT id AS src, id AS cur FROM nodes
       UNION ALL
       SELECT w.src, e.b FROM wk w JOIN down e ON e.a = w.cur),
term AS MATERIALIZED (SELECT src, cur AS t FROM wk WHERE cur NOT IN (SELECT a FROM down)),
zmap AS (SELECT cell_row * {GRID.cols} + cell_col AS id, value AS z FROM r),
per AS (SELECT t, min(z.z) AS mn, max(z.z) AS mx
        FROM term x JOIN zmap z ON z.id = x.src GROUP BY t)
SELECT n.cell_row, n.cell_col,
       round(CASE WHEN per.mx > per.mn
                  THEN (z.z - per.mn) / (per.mx - per.mn) * 100.0
                  ELSE 0.0 END, 6) AS value
FROM term x JOIN nodes n ON n.id = x.src
JOIN zmap z ON z.id = x.src JOIN per ON per.t = x.t"""


def _li_sql() -> str:
    return f"""WITH {vectors.line_specs_sql(vectors.LINE_SPECS_1, 'l1')},
{vectors.line_specs_sql(vectors.LINE_SPECS_2, 'l2')},
j AS (SELECT a.seg_id AS s1, b.seg_id AS s2,
             a.x1 AS ax1, a.y1 AS ay1, a.x2 AS ax2, a.y2 AS ay2,
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
       FROM m WHERE rx * sy - ry * sx <> 0.0)
SELECT s1, s2, round(ax1 + t * rx, 6) AS x, round(ay1 + t * ry, 6) AS y
FROM tm WHERE t >= 0.0 AND t <= 1.0 AND u >= 0.0 AND u <= 1.0"""


ORACLE_SQL = {
    "cost_distance": _cost_sql(),
    "d8_mass_flux": _mass_flux_sql(),
    "subbasins": _subbasins_sql(),
    "strahler_order_basins": _strahler_basins_sql(),
    "elev_relative_to_watershed": _erw_sql(),
    "line_intersections": _li_sql(),
}
