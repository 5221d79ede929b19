"""Query catalog: gridding + vector<->raster families (SURVEY.md §2.2).

Each entry pairs a Spark pipeline with a DuckDB oracle that transcribes the
same reference semantics in ANSI SQL over the same parquet fixtures. All
float expressions keep identical shape on both sides (bit-parity); only
multi-term double sums are rounded (6 dp) to absorb accumulation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whitebox_tools_spark import derive
from whitebox_tools_spark.operators import raster as rop
from whitebox_tools_spark.operators.gridding import (
    GridConfig,
    block_grid,
    idw_grid,
    nn_grid,
)
from whitebox_tools_spark.sources import vectors
from whitebox_tools_spark.sources.tables import documents

GRID = GridConfig(rows=20, cols=20, north=1000.0, west=0.0, res_x=50.0, res_y=50.0)
IDW_RADIUS = 60.0
IDW_WEIGHT = 2.0
IDW_MIN_POINTS = 1
NN_RADIUS = 60.0
NN_MAX_DIST = 100.0

_GEO_SQL = derive.sql_geometry_select("doc_id")
_PTS_CTE = f"pts AS (SELECT doc_id, {_GEO_SQL} FROM documents)"

# DuckDB reserves ROW; engine row/col are aliased cell_row/cell_col at the
# catalog boundary so both sides agree on names.
_CELLS_CTE = f"""cells AS (
  SELECT i AS cell,
         CAST(i // {GRID.cols} AS BIGINT) AS cell_row,
         CAST(i % {GRID.cols} AS BIGINT) AS cell_col,
         ({GRID.west!r} + (CAST(i % {GRID.cols} AS DOUBLE) + 0.5) * {GRID.res_x!r}) AS x,
         ({GRID.north!r} - (CAST(i // {GRID.cols} AS DOUBLE) + 0.5) * {GRID.res_y!r}) AS y
  FROM range(0, {GRID.rows * GRID.cols}) t(i))"""

# standard cell transform (raster/mod.rs:620-642), as SQL fragments
_ROW_SQL = f"CAST(floor(({GRID.north!r} - y) / {GRID.res_y!r}) AS BIGINT)"
_COL_SQL = f"CAST(floor((x - {GRID.west!r}) / {GRID.res_x!r}) AS BIGINT)"
_IN_GRID_SQL = (
    f"{_ROW_SQL} >= 0 AND {_ROW_SQL} < {GRID.rows} "
    f"AND {_COL_SQL} >= 0 AND {_COL_SQL} < {GRID.cols}"
)

_IDW_AGG_SQL = """
  SELECT cell, count(*) AS n,
         min(CASE WHEN dist = 0 THEN z END) AS zero_z,
         sum(CASE WHEN dist > 0 THEN z / (dist * dist) END) AS num,
         sum(CASE WHEN dist > 0 THEN 1.0 / (dist * dist) END) AS den
  FROM {src} GROUP BY cell"""


def _knn_ctes(query_cte: str, k: int, radius: float) -> str:
    """Shell-stop kNN replay (fixed_radius_search.rs:134-218) over
    ``query_cte``(cell, x, y) x pts -> ``fb``(cell, dist, z)."""
    inv_r = 1.0 / (radius * 0.5)
    return f"""
pc AS (SELECT p.*, CAST(floor(p.x * {inv_r!r}) AS BIGINT) AS ci,
              CAST(floor(p.y * {inv_r!r}) AS BIGINT) AS cj FROM pts p),
qc AS (SELECT q.cell, q.x, q.y, CAST(floor(q.x * {inv_r!r}) AS BIGINT) AS ci,
              CAST(floor(q.y * {inv_r!r}) AS BIGINT) AS cj FROM {query_cte} q),
pairs AS (SELECT qc.cell, pc.z, pc.x AS px, pc.y AS py,
                 greatest(greatest(abs(pc.ci - qc.ci), abs(pc.cj - qc.cj)), 1) AS shell,
                 (qc.x - pc.x) * (qc.x - pc.x) + (qc.y - pc.y) * (qc.y - pc.y) AS d2
          FROM qc CROSS JOIN pc),
ranked AS (SELECT *, row_number() OVER (PARTITION BY cell ORDER BY shell) AS rn FROM pairs),
sstop AS (SELECT cell, coalesce(max(CASE WHEN rn = {k} THEN shell END), max(shell)) AS s_stop
          FROM ranked GROUP BY cell),
cand AS (SELECT r.* FROM ranked r JOIN sstop s ON r.cell = s.cell AND r.shell <= s.s_stop),
fb_topk AS (SELECT *, row_number() OVER (PARTITION BY cell ORDER BY d2, px, py) AS rk FROM cand),
fb AS (SELECT cell, sqrt(d2) AS dist, z FROM fb_topk WHERE rk <= {k})"""


# ---------------------------------------------------------------- queries


def _docs_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    return derive.with_geometry(documents(spark, sf_dir), "doc_id")


def q_idw_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _docs_geo(spark, sf_dir).select("doc_id", "x", "y", "z")
    out = idw_grid(
        pts, GRID, weight=IDW_WEIGHT, radius=IDW_RADIUS, min_points=IDW_MIN_POINTS
    )
    return out.select(
        "cell",
        F.col("row").alias("cell_row"),
        F.col("col").alias("cell_col"),
        F.round("value", 6).alias("value"),
    )


def q_nn_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _docs_geo(spark, sf_dir).select("doc_id", "x", "y", "z")
    out = nn_grid(pts, GRID, max_dist=NN_MAX_DIST, radius=NN_RADIUS)
    return out.select(
        "cell",
        F.col("row").alias("cell_row"),
        F.col("col").alias("cell_col"),
        "value",
    )


def _q_block(stat: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        pts = _docs_geo(spark, sf_dir).select("x", "y", "z")
        return block_grid(pts, GRID, stat=stat).select(
            F.col("row").alias("cell_row"), F.col("col").alias("cell_col"), "value"
        )

    return q


def _q_points_raster(assign: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        pts = _docs_geo(spark, sf_dir)
        out = rop.points_to_raster(pts, GRID, assign=assign)
        value = F.round("value", 6) if assign == "sum" else F.col("value")
        return out.select(
            F.col("row").alias("cell_row"),
            F.col("col").alias("cell_col"),
            value.alias("value"),
        )

    return q


def q_polygons_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = rop.polygons_to_raster(spark, vectors.rect_layer(), GRID, field="zone")
    return out.select(
        F.col("row").alias("cell_row"), F.col("col").alias("cell_col"), "value"
    )


def q_raster_to_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _docs_geo(spark, sf_dir)
    r = rop.points_to_raster(pts, GRID, assign="last")
    return rop.raster_to_vector_points(r, GRID).select("fid", "x", "y", "value")


def q_extract_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _docs_geo(spark, sf_dir)
    r = rop.points_to_raster(pts, GRID, assign="max")
    return rop.extract_raster_values_at_points(pts, r, GRID, out="value1").select(
        "doc_id", "value1"
    )


QUERIES = {
    "idw_grid": q_idw_grid,
    "nn_grid": q_nn_grid,
    "block_max": _q_block("max"),
    "block_min": _q_block("min"),
    "points_raster_last": _q_points_raster("last"),
    "points_raster_first": _q_points_raster("first"),
    "points_raster_sum": _q_points_raster("sum"),
    "polygons_raster": q_polygons_raster,
    "raster_to_points": q_raster_to_points,
    "extract_values": q_extract_values,
}

HEADLINE = (
    "idw_grid", "block_max", "points_raster_last", "raster_to_points", "extract_values"
)


# ------------------------------------------------------------- oracle SQL


def _oracle_idw() -> str:
    r2 = IDW_RADIUS * IDW_RADIUS
    mp = IDW_MIN_POINTS
    return f"""
WITH {_PTS_CTE},
{_CELLS_CTE},
rj AS (SELECT c.cell,
              sqrt((c.x - p.x) * (c.x - p.x) + (c.y - p.y) * (c.y - p.y)) AS dist, p.z
       FROM cells c JOIN pts p
         ON (c.x - p.x) * (c.x - p.x) + (c.y - p.y) * (c.y - p.y) <= {r2!r}),
agg AS ({_IDW_AGG_SQL.format(src="rj")}),
direct AS (SELECT cell, CASE WHEN zero_z IS NOT NULL THEN zero_z ELSE num / den END AS value
           FROM agg WHERE n >= {mp}),
short AS (SELECT c.cell, c.x, c.y FROM cells c
          LEFT JOIN (SELECT cell FROM agg WHERE n >= {mp}) f ON c.cell = f.cell
          WHERE f.cell IS NULL),
{_knn_ctes("short", IDW_MIN_POINTS, IDW_RADIUS).lstrip()},
fb_agg AS ({_IDW_AGG_SQL.format(src="fb")}),
fb_val AS (SELECT cell, CASE WHEN zero_z IS NOT NULL THEN zero_z ELSE num / den END AS value
           FROM fb_agg WHERE n >= {mp}),
vals AS (SELECT * FROM direct UNION ALL SELECT * FROM fb_val)
SELECT c.cell, c.cell_row, c.cell_col, round(v.value, 6) AS value
FROM cells c LEFT JOIN vals v ON c.cell = v.cell
"""


def _oracle_nn() -> str:
    return f"""
WITH {_PTS_CTE},
{_CELLS_CTE},
{_knn_ctes("cells", 1, NN_RADIUS).lstrip()},
vals AS (SELECT cell, z AS value FROM fb WHERE dist <= {NN_MAX_DIST!r})
SELECT c.cell, c.cell_row, c.cell_col, v.value
FROM cells c LEFT JOIN vals v ON c.cell = v.cell
"""


def _oracle_block(stat: str) -> str:
    ew = GRID.east - GRID.west
    ns = GRID.north - GRID.south
    row = f"CAST(floor({float(GRID.rows - 1)!r} * ({GRID.north!r} - y) / {ns!r}) AS BIGINT)"
    col = f"CAST(floor({float(GRID.cols - 1)!r} * (x - {GRID.west!r}) / {ew!r}) AS BIGINT)"
    return f"""
WITH {_PTS_CTE},
b AS (SELECT {row} AS cell_row, {col} AS cell_col, z FROM pts)
SELECT cell_row, cell_col, {stat}(z) AS value
FROM b
WHERE cell_row >= 0 AND cell_row < {GRID.rows} AND cell_col >= 0 AND cell_col < {GRID.cols}
GROUP BY cell_row, cell_col
"""


def _oracle_points_raster(assign: str) -> str:
    agg = {
        "last": "arg_max(z, doc_id)",
        "first": "arg_min(z, doc_id)",
        "min": "min(z)",
        "max": "max(z)",
        "sum": "round(sum(z), 6)",
    }[assign]
    return f"""
WITH {_PTS_CTE}
SELECT {_ROW_SQL} AS cell_row, {_COL_SQL} AS cell_col, {agg} AS value
FROM pts WHERE {_IN_GRID_SQL}
GROUP BY cell_row, cell_col
"""


_PTS_RASTER_LAST_CTE = f"""
r AS (SELECT {_ROW_SQL} AS cell_row, {_COL_SQL} AS cell_col, arg_max(z, doc_id) AS value
      FROM pts WHERE {_IN_GRID_SQL}
      GROUP BY cell_row, cell_col)"""


def _oracle_raster_to_points() -> str:
    return f"""
WITH {_PTS_CTE},
{_PTS_RASTER_LAST_CTE},
kept AS (SELECT * FROM r
         WHERE value IS NOT NULL AND value <> 0.0 AND value <> {GRID.nodata!r})
SELECT CAST(row_number() OVER (ORDER BY cell_row, cell_col) AS INT) AS fid,
       ({GRID.west!r} + {GRID.res_x / 2.0!r} + CAST(cell_col AS DOUBLE) * {GRID.res_x!r}) AS x,
       ({GRID.north!r} - {GRID.res_y / 2.0!r} - CAST(cell_row AS DOUBLE) * {GRID.res_y!r}) AS y,
       value
FROM kept
"""


def _oracle_extract_values() -> str:
    return f"""
WITH {_PTS_CTE},
r AS (SELECT {_ROW_SQL} AS cell_row, {_COL_SQL} AS cell_col, max(z) AS value
      FROM pts WHERE {_IN_GRID_SQL}
      GROUP BY cell_row, cell_col),
p2 AS (SELECT doc_id, {_ROW_SQL} AS cell_row, {_COL_SQL} AS cell_col FROM pts)
SELECT p2.doc_id, coalesce(r.value, {GRID.nodata!r}) AS value1
FROM p2 LEFT JOIN r ON p2.cell_row = r.cell_row AND p2.cell_col = r.cell_col
"""


ORACLE_SQL = {
    "idw_grid": _oracle_idw(),
    "nn_grid": _oracle_nn(),
    "block_max": _oracle_block("max"),
    "block_min": _oracle_block("min"),
    "points_raster_last": _oracle_points_raster("last"),
    "points_raster_first": _oracle_points_raster("first"),
    "points_raster_sum": _oracle_points_raster("sum"),
    "polygons_raster": f"""
WITH {_CELLS_CTE}
SELECT cell_row, cell_col, CAST({vectors.rect_layer_fid_case()} AS DOUBLE) AS value
FROM cells WHERE {vectors.rect_layer_sql_predicate()}
""",
    "raster_to_points": _oracle_raster_to_points(),
    "extract_values": _oracle_extract_values(),
}
