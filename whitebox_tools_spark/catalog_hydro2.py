"""Query catalog: hydrology batch 2 — depression filling (Planchon &
Darboux fixpoint) and derivatives, FD8 dispersive accumulation,
flow-path lengths, stream-relative metrics, basins, pour-point snapping,
flow-path tracing.

Fixpoint oracles unroll the same update the Spark loop runs (identical
float expressions; min/greatest chains are exact, weighted FD8 sums are
rounded to 6 dp). Walk-based oracles use recursive CTEs over the same D8
graph."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whitebox_tools_spark import derive
from whitebox_tools_spark.catalog_grid import GRID, _PTS_CTE
from whitebox_tools_spark.catalog_iter import _Z_CTE, _d8_dir_sql
from whitebox_tools_spark.operators import hydro, hydro2, trend
from whitebox_tools_spark.operators import raster as rop
from whitebox_tools_spark.sources.tables import documents

TILE_SIZE = 8
FILL_ROUNDS = 64
FD8_ROUNDS = 64
FD8_EXP = 1.1
ST_THRESHOLD = 2.0
POUR_MOD = 37
SNAP_DIST = 120.0

_DIAG = math.sqrt(GRID.res_x * GRID.res_x + GRID.res_y * GRID.res_y)
_LENS = [_DIAG, GRID.res_x, _DIAG, GRID.res_y, _DIAG, GRID.res_x, _DIAG, GRID.res_y]


def _z(spark: SparkSession, sf_dir: str) -> DataFrame:
    geo = derive.with_geometry(documents(spark, sf_dir), "doc_id")
    from whitebox_tools_spark import catalog_cache as _cc
    return _cc.z_last(spark, sf_dir)


def _streams(spark, sf_dir):
    z = _z(spark, sf_dir)
    from whitebox_tools_spark import catalog_cache as _cc4
    accum = _cc4.accum(spark, sf_dir, TILE_SIZE)
    return trend.extract_streams(accum, ST_THRESHOLD)


def _pour(spark, sf_dir):
    z = _z(spark, sf_dir)
    cell = F.col("row") * GRID.cols + F.col("col")
    return z.where(F.pmod(cell, F.lit(POUR_MOD)) == 0).select(
        "row", "col", cell.cast("double").alias("value")
    )


def _aliased(df: DataFrame, round6: bool = False) -> DataFrame:
    v = F.round("value", 6) if round6 else F.col("value")
    return df.select(
        F.col("row").alias("cell_row"), F.col("col").alias("cell_col"), v.alias("value")
    )


QUERIES = {
    "fill_single_cell_pits": lambda s, d: _aliased(
        hydro2.fill_single_cell_pits(_z(s, d), GRID, tile_size=TILE_SIZE)),
    "find_no_flow_cells": lambda s, d: _aliased(
        hydro2.find_no_flow_cells(_z(s, d), GRID, tile_size=TILE_SIZE)),
    "fill_depressions": lambda s, d: _aliased(
        hydro2.fill_depressions(_z(s, d), GRID, max_rounds=FILL_ROUNDS)),
    "depth_in_sink": lambda s, d: _aliased(
        hydro2.depth_in_sink(_z(s, d), GRID, max_rounds=FILL_ROUNDS)),
    "sink": lambda s, d: _aliased(hydro2.sink(_z(s, d), GRID, max_rounds=FILL_ROUNDS)),
    "fd8_flow_accum": lambda s, d: _aliased(
        hydro2.fd8_flow_accumulation(_z(s, d), GRID, FD8_EXP, FD8_ROUNDS), round6=True),
    "max_upslope_flowpath": lambda s, d: _aliased(
        hydro2.max_upslope_flowpath_length(_z(s, d), GRID, tile_size=TILE_SIZE), round6=True),
    "downslope_flowpath_length": lambda s, d: _aliased(
        hydro2.downslope_flowpath_length(_z(s, d), GRID, tile_size=TILE_SIZE), round6=True),
    "downslope_distance_to_stream": lambda s, d: _aliased(
        hydro2.downslope_distance_to_stream(_z(s, d), _streams(s, d), GRID, TILE_SIZE),
        round6=True),
    "elevation_above_stream": lambda s, d: _aliased(
        hydro2.elevation_above_stream(_z(s, d), _streams(s, d), GRID, TILE_SIZE),
        round6=True),
    "basins": lambda s, d: _aliased(hydro2.basins(_z(s, d), GRID, tile_size=TILE_SIZE)),
    "snap_pour_points": lambda s, d: _aliased(
        hydro2.snap_pour_points(
            _pour(s, d), hydro.d8_flow_accumulation(_z(s, d), GRID, tile_size=TILE_SIZE),
            GRID, SNAP_DIST)),
    "jenson_snap_pour_points": lambda s, d: _aliased(
        hydro2.jenson_snap_pour_points(_pour(s, d), _streams(s, d), GRID, SNAP_DIST)),
    "trace_downslope_flowpaths": lambda s, d: _aliased(
        hydro2.trace_downslope_flowpaths(_pour(s, d), _z(s, d), GRID, TILE_SIZE)),
}

HEADLINE = ("fill_depressions", "basins")


# ------------------------------------------------------------- oracle SQL

_DYS = ",".join(str(v) for v in hydro.D8_DY)
_DXS = ",".join(str(v) for v in hydro.D8_DX)
_LEN_ARR = "[" + ",".join(repr(v) for v in _LENS) + "]"


def _nb_pairs_cte() -> str:
    """cells (id, z) + 8-neighbour present pairs + border set."""
    return f"""cells AS MATERIALIZED (SELECT cell_row, cell_col,
        cell_row * {GRID.cols} + cell_col AS id, value AS z FROM r),
offs AS (SELECT * FROM (VALUES {', '.join(f'({dx}, {dy})' for dx, dy in zip(hydro.D8_DX, hydro.D8_DY))}) o(dc, dr)),
probe AS (SELECT c.id, c.cell_row + o.dr AS nr, c.cell_col + o.dc AS nc FROM cells c CROSS JOIN offs o),
pairs AS MATERIALIZED (SELECT p.id AS a, n.id AS b
       FROM probe p JOIN cells n ON n.cell_row = p.nr AND n.cell_col = p.nc),
border AS MATERIALIZED (
  SELECT DISTINCT id FROM probe p
  WHERE p.nr < 0 OR p.nr >= {GRID.rows} OR p.nc < 0 OR p.nc >= {GRID.cols}
     OR NOT EXISTS (SELECT 1 FROM cells n WHERE n.cell_row = p.nr AND n.cell_col = p.nc))"""


def _fill_sql(select: str, epsilon: float = 0.0) -> str:
    blocks = [
        """w0 AS MATERIALIZED (SELECT c.id, c.z,
        CASE WHEN b.id IS NOT NULL THEN c.z ELSE CAST('inf' AS DOUBLE) END AS w
        FROM cells c LEFT JOIN border b ON b.id = c.id)"""
    ]
    eps_add = f" + {epsilon!r}" if epsilon else ""
    for i in range(1, FILL_ROUNDS + 1):
        blocks.append(
            f"m{i} AS (SELECT p.a, min(w.w) AS mn FROM pairs p "
            f"JOIN w{i-1} w ON w.id = p.b GROUP BY p.a)"
        )
        blocks.append(
            f"w{i} AS MATERIALIZED (SELECT w.id, w.z, "
            f"greatest(w.z, least(w.w, coalesce(m.mn{eps_add}, w.w))) AS w "
            f"FROM w{i-1} w LEFT JOIN m{i} m ON m.a = w.id)"
        )
    joined = ",\n".join(blocks)
    return f"""WITH {_PTS_CTE},
{_Z_CTE},
{_nb_pairs_cte()},
{joined}
{select}"""


_FILLED_SELECT = f"""SELECT CAST(id // {GRID.cols} AS BIGINT) AS cell_row,
       CAST(id % {GRID.cols} AS BIGINT) AS cell_col, w AS value
FROM w{FILL_ROUNDS}"""

_DEPTH_SELECT = f"""SELECT CAST(id // {GRID.cols} AS BIGINT) AS cell_row,
       CAST(id % {GRID.cols} AS BIGINT) AS cell_col,
       CASE WHEN w - z > 0.0 THEN w - z ELSE CAST(0.0 AS DOUBLE) END AS value
FROM w{FILL_ROUNDS}"""

_SINK_SELECT = f""", sunk AS MATERIALIZED (SELECT id FROM w{FILL_ROUNDS} WHERE w > z),
se AS (SELECT p.a, p.b FROM pairs p
       JOIN sunk x ON x.id = p.a JOIN sunk y ON y.id = p.b),
cc AS (SELECT id AS node, id AS lbl FROM sunk
       UNION
       SELECT e.b, cc.lbl FROM cc JOIN se e ON e.a = cc.node),
comp AS (SELECT node, min(lbl) AS comp FROM cc GROUP BY node),
ranked AS (SELECT comp, CAST(row_number() OVER (ORDER BY comp) AS DOUBLE) AS fid
           FROM (SELECT DISTINCT comp FROM comp))
SELECT CAST(c.node // {GRID.cols} AS BIGINT) AS cell_row,
       CAST(c.node % {GRID.cols} AS BIGINT) AS cell_col, rk.fid AS value
FROM comp c JOIN ranked rk ON rk.comp = c.comp
UNION ALL
SELECT CAST(w.id // {GRID.cols} AS BIGINT), CAST(w.id % {GRID.cols} AS BIGINT),
       CAST(0.0 AS DOUBLE)
FROM w{FILL_ROUNDS} w WHERE w.id NOT IN (SELECT id FROM sunk)"""


def _sink_sql() -> str:
    # recursive cc needs WITH RECURSIVE at the top
    sql = _fill_sql(_SINK_SELECT)
    return sql.replace("WITH pts", "WITH RECURSIVE pts", 1)


def _fd8_sql() -> str:
    blocks = [
        f"""dwn AS MATERIALIZED (SELECT p.a, p.b,
        pow(ca.z - cb.z, {FD8_EXP!r}) AS wt
        FROM pairs p JOIN cells ca ON ca.id = p.a JOIN cells cb ON cb.id = p.b
        WHERE cb.z < ca.z),
tw AS (SELECT a, sum(wt) AS tw FROM dwn GROUP BY a),
ed AS MATERIALIZED (SELECT d.a, d.b, d.wt / t.tw AS w FROM dwn d JOIN tw t ON t.a = d.a),
a0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS val FROM cells)"""
    ]
    for i in range(1, FD8_ROUNDS + 1):
        blocks.append(
            f"u{i} AS (SELECT e.b, sum(e.w * a.val) AS s FROM ed e "
            f"JOIN a{i-1} a ON a.id = e.a GROUP BY e.b)"
        )
        blocks.append(
            f"a{i} AS MATERIALIZED (SELECT c.id, 1.0 + coalesce(u.s, 0.0) AS val "
            f"FROM cells c LEFT JOIN u{i} u ON u.b = c.id)"
        )
    joined = ",\n".join(blocks)
    return f"""WITH {_PTS_CTE},
{_Z_CTE},
{_nb_pairs_cte()},
{joined}
SELECT CAST(id // {GRID.cols} AS BIGINT) AS cell_row,
       CAST(id % {GRID.cols} AS BIGINT) AS cell_col,
       round(CAST(val AS DOUBLE), 6) AS value
FROM a{FD8_ROUNDS}"""


_D8_GRAPH = f"""nodes AS (SELECT cell_row, cell_col, cell_row * {GRID.cols} + cell_col AS id, dir FROM dirs),
down AS MATERIALIZED (SELECT id AS a,
                (cell_row + [{_DYS}][dir + 1]) * {GRID.cols}
                  + (cell_col + [{_DXS}][dir + 1]) AS b,
                {_LEN_ARR}[dir + 1] AS len
         FROM nodes WHERE dir >= 0)"""


def _d8_scaffold(body: str) -> str:
    return f"""WITH RECURSIVE {_PTS_CTE},
{_Z_CTE},
{_d8_dir_sql().lstrip()},
{_D8_GRAPH},
{body}"""


_STREAM_CTES = f"""walk0 AS (SELECT id AS src, id AS cur FROM nodes
          UNION ALL
          SELECT w.src, d.b FROM walk0 w JOIN down d ON d.a = w.cur),
accum AS (SELECT cur AS id, CAST(count(*) AS DOUBLE) AS value FROM walk0 GROUP BY cur),
scell AS MATERIALIZED (SELECT id FROM accum WHERE value > {ST_THRESHOLD!r})"""

_POUR_CTE = f"pour AS MATERIALIZED (SELECT id FROM nodes WHERE id % {POUR_MOD} = 0)"

ORACLE_SQL = {
    "fill_single_cell_pits": _fill_sql("").replace(
        f",\nw0 AS MATERIALIZED", ",\nw0x AS MATERIALIZED"
    ),  # placeholder, replaced below
    "find_no_flow_cells": f"""WITH {_PTS_CTE},
{_Z_CTE},
{_nb_pairs_cte()}
SELECT c.cell_row, c.cell_col, CAST(1.0 AS DOUBLE) AS value
FROM cells c
WHERE NOT EXISTS (SELECT 1 FROM pairs p JOIN cells n ON n.id = p.b
                  WHERE p.a = c.id AND n.z < c.z)""",
    "fill_depressions": _fill_sql(_FILLED_SELECT),
    "depth_in_sink": _fill_sql(_DEPTH_SELECT),
    "sink": _sink_sql(),
    "fd8_flow_accum": _fd8_sql(),
    "max_upslope_flowpath": _d8_scaffold(f"""
wk AS (SELECT id AS src, id AS cur, CAST(0.0 AS DOUBLE) AS d FROM nodes
       UNION ALL
       SELECT w.src, e.b, w.d + e.len FROM wk w JOIN down e ON e.a = w.cur)
SELECT n.cell_row, n.cell_col, round(max(w.d), 6) AS value
FROM wk w JOIN nodes n ON n.id = w.cur
GROUP BY n.cell_row, n.cell_col"""),
    "downslope_flowpath_length": _d8_scaffold(f"""
wk AS (SELECT id AS src, id AS cur, CAST(0.0 AS DOUBLE) AS d FROM nodes
       UNION ALL
       SELECT w.src, e.b, w.d + e.len FROM wk w JOIN down e ON e.a = w.cur)
SELECT n.cell_row, n.cell_col, round(max(w.d), 6) AS value
FROM wk w JOIN nodes n ON n.id = w.src
GROUP BY n.cell_row, n.cell_col"""),
    "downslope_distance_to_stream": _d8_scaffold(f"""
{_STREAM_CTES},
sw AS (SELECT id AS src, id AS cur, CAST(0.0 AS DOUBLE) AS d FROM nodes
       UNION ALL
       SELECT w.src, e.b, w.d + e.len FROM sw w JOIN down e ON e.a = w.cur
       WHERE w.cur NOT IN (SELECT id FROM scell))
SELECT n.cell_row, n.cell_col, round(w.d, 6) AS value
FROM sw w JOIN nodes n ON n.id = w.src
WHERE w.cur IN (SELECT id FROM scell)"""),
    "elevation_above_stream": _d8_scaffold(f"""
{_STREAM_CTES},
zmap AS (SELECT cell_row * {GRID.cols} + cell_col AS id, value AS z FROM r),
sw AS (SELECT id AS src, id AS cur FROM nodes
       UNION ALL
       SELECT w.src, e.b FROM sw w JOIN down e ON e.a = w.cur
       WHERE w.cur NOT IN (SELECT id FROM scell))
SELECT n.cell_row, n.cell_col, round(zs.z - zc.z, 6) AS value
FROM sw w JOIN nodes n ON n.id = w.src
JOIN zmap zs ON zs.id = w.src JOIN zmap zc ON zc.id = w.cur
WHERE w.cur IN (SELECT id FROM scell)"""),
    "basins": _d8_scaffold(f"""
wk AS (SELECT id AS src, id AS cur FROM nodes
       UNION ALL
       SELECT w.src, e.b FROM wk w JOIN down e ON e.a = w.cur),
term AS (SELECT src, cur AS t FROM wk WHERE cur NOT IN (SELECT a FROM down)),
ranked AS (SELECT t, CAST(row_number() OVER (ORDER BY t) AS DOUBLE) AS fid
           FROM (SELECT DISTINCT t FROM term))
SELECT n.cell_row, n.cell_col, rk.fid AS value
FROM term x JOIN nodes n ON n.id = x.src JOIN ranked rk ON rk.t = x.t"""),
    "snap_pour_points": _d8_scaffold(f"""
{_STREAM_CTES},
{_POUR_CTE},
cand AS (SELECT p.id AS pid, c.id AS cid, a.value AS acc,
                (CAST(c.id // {GRID.cols} - p.id // {GRID.cols} AS DOUBLE) * {GRID.res_y!r})
                  * (CAST(c.id // {GRID.cols} - p.id // {GRID.cols} AS DOUBLE) * {GRID.res_y!r})
                + (CAST(c.id % {GRID.cols} - p.id % {GRID.cols} AS DOUBLE) * {GRID.res_x!r})
                  * (CAST(c.id % {GRID.cols} - p.id % {GRID.cols} AS DOUBLE) * {GRID.res_x!r}) AS d2
         FROM pour p JOIN nodes c ON TRUE JOIN accum a ON a.id = c.id)
SELECT CAST(cid // {GRID.cols} AS BIGINT) AS cell_row,
       CAST(cid % {GRID.cols} AS BIGINT) AS cell_col,
       CAST(pid AS DOUBLE) AS value
FROM cand WHERE d2 <= {SNAP_DIST * SNAP_DIST!r}
QUALIFY row_number() OVER (PARTITION BY pid ORDER BY acc DESC, cid ASC) = 1"""),
    "jenson_snap_pour_points": _d8_scaffold(f"""
{_STREAM_CTES},
{_POUR_CTE},
cand AS (SELECT p.id AS pid, c.id AS cid,
                (CAST(c.id // {GRID.cols} - p.id // {GRID.cols} AS DOUBLE) * {GRID.res_y!r})
                  * (CAST(c.id // {GRID.cols} - p.id // {GRID.cols} AS DOUBLE) * {GRID.res_y!r})
                + (CAST(c.id % {GRID.cols} - p.id % {GRID.cols} AS DOUBLE) * {GRID.res_x!r})
                  * (CAST(c.id % {GRID.cols} - p.id % {GRID.cols} AS DOUBLE) * {GRID.res_x!r}) AS d2
         FROM pour p JOIN scell c ON TRUE)
SELECT CAST(cid // {GRID.cols} AS BIGINT) AS cell_row,
       CAST(cid % {GRID.cols} AS BIGINT) AS cell_col,
       CAST(pid AS DOUBLE) AS value
FROM cand WHERE d2 <= {SNAP_DIST * SNAP_DIST!r}
QUALIFY row_number() OVER (PARTITION BY pid ORDER BY d2 ASC, cid ASC) = 1"""),
    "trace_downslope_flowpaths": _d8_scaffold(f"""
{_POUR_CTE},
wk AS (SELECT id AS cur FROM pour
       UNION
       SELECT e.b FROM wk w JOIN down e ON e.a = w.cur)
SELECT n.cell_row, n.cell_col, CAST(1.0 AS DOUBLE) AS value
FROM wk w JOIN nodes n ON n.id = w.cur"""),
}

# fill_single_cell_pits oracle (simple one-round stencil, exact)
ORACLE_SQL["fill_single_cell_pits"] = f"""WITH {_PTS_CTE},
{_Z_CTE},
{_nb_pairs_cte()},
st AS (SELECT c.id, c.cell_row, c.cell_col, c.z,
              min(n.z) AS mn,
              sum(CASE WHEN n.z < c.z THEN 1 ELSE 0 END) AS n_lower,
              count(*) AS n_nbr
       FROM cells c LEFT JOIN pairs p ON p.a = c.id
       LEFT JOIN cells n ON n.id = p.b
       GROUP BY c.id, c.cell_row, c.cell_col, c.z)
SELECT cell_row, cell_col,
       CASE WHEN coalesce(n_lower, 0) > 0 OR mn IS NULL THEN z
            ELSE mn + 0.0001 END AS value
FROM st"""
