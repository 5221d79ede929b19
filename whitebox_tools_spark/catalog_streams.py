"""Query catalog: stream-network family over the stream-cell flow DAG.

Oracles use DuckDB recursive walks over the same stream graph (z raster
-> D8 dirs -> accumulation -> streams threshold -> stream edges with grid
lengths). Integer outputs compare raw; channel-length floats round to
6 dp where the Spark fixpoint accumulates in a different association
order than the SQL walk (distance_to_outlet, link/upstream lengths)."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whitebox_tools_spark import derive
from whitebox_tools_spark.catalog_grid import GRID, _PTS_CTE
from whitebox_tools_spark.catalog_iter import _Z_CTE, _d8_dir_sql
from whitebox_tools_spark.operators import hydro, streams as sop, trend
from whitebox_tools_spark.operators import raster as rop
from whitebox_tools_spark.operators.focal import focal_apply
from whitebox_tools_spark.operators.hydro import _d8_dir_stencil
from whitebox_tools_spark.sources.tables import documents

TILE_SIZE = 8
ST_THRESHOLD = 2.0
MIN_LEN = 120.0

_DIAG = math.sqrt(GRID.res_x * GRID.res_x + GRID.res_y * GRID.res_y)
_LENS = [_DIAG, GRID.res_x, _DIAG, GRID.res_y, _DIAG, GRID.res_x, _DIAG, GRID.res_y]


def _graph(spark: SparkSession, sf_dir: str):
    geo = derive.with_geometry(documents(spark, sf_dir), "doc_id")
    from whitebox_tools_spark import catalog_cache as _cc5
    z = _cc5.z_last(spark, sf_dir)
    from whitebox_tools_spark import catalog_cache as _cc2
    accum = _cc2.accum(spark, sf_dir, TILE_SIZE)
    st = trend.extract_streams(accum, ST_THRESHOLD)
    from whitebox_tools_spark import catalog_cache as _cc3
    dirs = _cc3.dirs(spark, sf_dir, TILE_SIZE)
    return st, dirs


def _aliased(df: DataFrame, round6: bool = False) -> DataFrame:
    v = F.round("value", 6) if round6 else F.col("value")
    return df.select(
        F.col("row").alias("cell_row"), F.col("col").alias("cell_col"), v.alias("value")
    )


def _q(op, round6=False, **kw):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        st, dirs = _graph(spark, sf_dir)
        return _aliased(op(st, dirs, GRID, **kw), round6=round6)

    return q


QUERIES = {
    "shreve_magnitude": _q(sop.shreve_magnitude),
    "length_upstream_channels": _q(sop.length_of_upstream_channels, round6=True),
    "farthest_channel_head": _q(sop.farthest_channel_head, round6=True),
    "distance_to_outlet": _q(sop.distance_to_outlet, round6=True),
    "topological_stream_order": _q(sop.topological_stream_order),
    "stream_link_id": _q(sop.stream_link_identifier),
    "stream_link_length": _q(sop.stream_link_length, round6=True),
    "remove_short_streams": _q(sop.remove_short_streams, min_length=MIN_LEN),
}

HEADLINE = ("stream_link_id",)


# ------------------------------------------------------------- oracle SQL

_LEN_ARR = "[" + ",".join(repr(v) for v in _LENS) + "]"
_DYS = ",".join(str(v) for v in hydro.D8_DY)
_DXS = ",".join(str(v) for v in hydro.D8_DX)

# shared scaffold: stream nodes + edges with lengths
_GRAPH_CTES = f"""nodes AS (SELECT cell_row, cell_col, cell_row * {GRID.cols} + cell_col AS id, dir FROM dirs),
down AS (SELECT id AS a,
                (cell_row + [{_DYS}][dir + 1]) * {GRID.cols}
                  + (cell_col + [{_DXS}][dir + 1]) AS b,
                {_LEN_ARR}[dir + 1] AS len
         FROM nodes WHERE dir >= 0),
walk0 AS (SELECT id AS src, id AS cur FROM nodes
          UNION ALL
          SELECT w.src, d.b FROM walk0 w JOIN down d ON d.a = w.cur),
accum AS (SELECT cur AS id, CAST(count(*) AS DOUBLE) AS value FROM walk0 GROUP BY cur),
snodes AS MATERIALIZED (SELECT n.id, n.cell_row, n.cell_col, n.dir FROM nodes n
           JOIN accum a ON a.id = n.id WHERE a.value > {ST_THRESHOLD!r}),
sedges AS MATERIALIZED (SELECT d.a, d.b, d.len FROM down d
           JOIN snodes sa ON sa.id = d.a JOIN snodes sb ON sb.id = d.b),
heads AS MATERIALIZED (SELECT id FROM snodes WHERE id NOT IN (SELECT b FROM sedges)),
inflow AS MATERIALIZED (SELECT b, count(*) AS n_in FROM sedges GROUP BY b)"""


def _scaffold(body: str) -> str:
    return f"""WITH RECURSIVE {_PTS_CTE},
{_Z_CTE},
{_d8_dir_sql().lstrip()},
{_GRAPH_CTES},
{body}"""


ORACLE_SQL = {
    "shreve_magnitude": _scaffold(f"""
hw AS (SELECT id AS src, id AS cur FROM heads
       UNION ALL
       SELECT w.src, e.b FROM hw w JOIN sedges e ON e.a = w.cur)
SELECT s.cell_row, s.cell_col, CAST(count(*) AS DOUBLE) AS value
FROM hw w JOIN snodes s ON s.id = w.cur
GROUP BY s.cell_row, s.cell_col"""),
    "length_upstream_channels": _scaffold(f"""
ew AS (SELECT e.a AS src, e.b AS cur, e.len FROM sedges e
       UNION ALL
       SELECT w.src, e.b, w.len FROM ew w JOIN sedges e ON e.a = w.cur)
SELECT s.cell_row, s.cell_col,
       round(CAST(coalesce(t.s, 0.0)
                  + (CASE WHEN s.dir >= 0 THEN {_LEN_ARR}[s.dir + 1]
                          ELSE 0.0 END) AS DOUBLE), 6) AS value
FROM snodes s LEFT JOIN (SELECT cur, sum(len) AS s FROM ew GROUP BY cur) t
  ON t.cur = s.id"""),
    "farthest_channel_head": _scaffold(f"""
hw AS (SELECT id AS cur, CAST(0.0 AS DOUBLE) AS d FROM heads
       UNION ALL
       SELECT e.b, w.d + e.len FROM hw w JOIN sedges e ON e.a = w.cur)
SELECT s.cell_row, s.cell_col, round(max(w.d), 6) AS value
FROM hw w JOIN snodes s ON s.id = w.cur
GROUP BY s.cell_row, s.cell_col"""),
    "distance_to_outlet": _scaffold(f"""
ow AS (SELECT id AS src, id AS cur, CAST(0.0 AS DOUBLE) AS d FROM snodes
       UNION ALL
       SELECT w.src, e.b, w.d + e.len FROM ow w JOIN sedges e ON e.a = w.cur)
SELECT s.cell_row, s.cell_col, round(w.d, 6) AS value
FROM ow w JOIN snodes s ON s.id = w.src
WHERE w.cur NOT IN (SELECT a FROM sedges)"""),
    "topological_stream_order": _scaffold(f"""
ow AS (SELECT id AS src, id AS cur, 1 AS t FROM snodes
       UNION ALL
       SELECT w.src, e.b,
              w.t + (CASE WHEN i.n_in >= 2 THEN 1 ELSE 0 END)
       FROM ow w JOIN sedges e ON e.a = w.cur
       LEFT JOIN inflow i ON i.b = e.b)
SELECT s.cell_row, s.cell_col, CAST(w.t AS DOUBLE) AS value
FROM ow w JOIN snodes s ON s.id = w.src
WHERE w.cur NOT IN (SELECT a FROM sedges)"""),
    "stream_link_id": _scaffold(f"""
intra AS (SELECT e.a, e.b FROM sedges e JOIN inflow i ON i.b = e.b WHERE i.n_in = 1),
sym AS (SELECT a, b FROM intra UNION ALL SELECT b, a FROM intra),
cc AS (SELECT id AS node, id AS lbl FROM snodes
       UNION
       SELECT s.b, cc.lbl FROM cc JOIN sym s ON s.a = cc.node),
comp AS (SELECT node, min(lbl) AS comp FROM cc GROUP BY node),
ranked AS (SELECT comp, CAST(row_number() OVER (ORDER BY comp) AS DOUBLE) AS link
           FROM (SELECT DISTINCT comp FROM comp))
SELECT s.cell_row, s.cell_col, r.link AS value
FROM snodes s JOIN comp c ON c.node = s.id JOIN ranked r ON r.comp = c.comp"""),
    "stream_link_length": _scaffold(f"""
intra AS (SELECT e.a, e.b FROM sedges e JOIN inflow i ON i.b = e.b WHERE i.n_in = 1),
sym AS (SELECT a, b FROM intra UNION ALL SELECT b, a FROM intra),
cc AS (SELECT id AS node, id AS lbl FROM snodes
       UNION
       SELECT s.b, cc.lbl FROM cc JOIN sym s ON s.a = cc.node),
comp AS MATERIALIZED (SELECT node, min(lbl) AS comp FROM cc GROUP BY node),
ll AS (SELECT c.comp, sum(e.len) AS llen
       FROM sedges e JOIN comp c ON c.node = e.a GROUP BY c.comp)
SELECT s.cell_row, s.cell_col, round(CAST(coalesce(ll.llen, 0.0) AS DOUBLE), 6) AS value
FROM snodes s JOIN comp c ON c.node = s.id
LEFT JOIN ll ON ll.comp = c.comp"""),
    "remove_short_streams": _scaffold(f"""
intra AS (SELECT e.a, e.b FROM sedges e JOIN inflow i ON i.b = e.b WHERE i.n_in = 1),
sym AS (SELECT a, b FROM intra UNION ALL SELECT b, a FROM intra),
cc AS (SELECT id AS node, id AS lbl FROM snodes
       UNION
       SELECT s.b, cc.lbl FROM cc JOIN sym s ON s.a = cc.node),
comp AS MATERIALIZED (SELECT node, min(lbl) AS comp FROM cc GROUP BY node),
ll AS (SELECT c.comp, sum(e.len) AS llen
       FROM sedges e JOIN comp c ON c.node = e.a GROUP BY c.comp),
hl AS (SELECT DISTINCT c.comp FROM comp c JOIN heads h ON h.id = c.node),
short AS (SELECT hl.comp FROM hl LEFT JOIN ll ON ll.comp = hl.comp
          WHERE coalesce(ll.llen, 0.0) < {MIN_LEN!r}),
removed AS (SELECT c.node FROM comp c JOIN short s ON s.comp = c.comp),
kept AS (SELECT s.cell_row, s.cell_col, CAST(1.0 AS DOUBLE) AS value
         FROM snodes s WHERE s.id NOT IN (SELECT node FROM removed))
SELECT * FROM kept
UNION ALL
SELECT r.cell_row, r.cell_col, CAST(0.0 AS DOUBLE) AS value
FROM r LEFT JOIN kept k ON k.cell_row = r.cell_row AND k.cell_col = r.cell_col
WHERE k.cell_row IS NULL"""),
}
