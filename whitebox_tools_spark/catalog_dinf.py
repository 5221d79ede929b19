"""Query catalog: DInf flow accumulation + rasterized Voronoi."""

from __future__ import annotations

from pyspark.sql import functions as F

from whitebox_tools_spark import derive
from whitebox_tools_spark.catalog_grid import GRID, _CELLS_CTE, _PTS_CTE
from whitebox_tools_spark.catalog_terrain3 import _dinf_sql
from whitebox_tools_spark.operators import dinf2
from whitebox_tools_spark.sources.tables import documents

TILE_SIZE = 8
ACC_ROUNDS = 64
VOR_N = 150


def _z(spark, sf_dir):
    from whitebox_tools_spark import catalog_cache as _cc
    return _cc.z_last(spark, sf_dir)


def q_dinf_accum(spark, sf_dir):
    out = dinf2.dinf_flow_accumulation(_z(spark, sf_dir), GRID, ACC_ROUNDS, TILE_SIZE)
    return out.select(
        F.col("row").alias("cell_row"), F.col("col").alias("cell_col"),
        F.round("value", 6).alias("value"),
    )


def q_voronoi(spark, sf_dir):
    geo = derive.with_geometry(documents(spark, sf_dir), "doc_id")
    pts = geo.where(F.col("doc_id") < VOR_N).select("doc_id", "x", "y")
    return dinf2.voronoi_raster(pts, GRID).select(
        F.col("row").alias("cell_row"), F.col("col").alias("cell_col"), "value"
    )


QUERIES = {
    "dinf_flow_accum": q_dinf_accum,
    "voronoi_raster": q_voronoi,
}

HEADLINE = ("dinf_flow_accum",)


# ------------------------------------------------------------- oracle SQL

_DR1 = [-1, -1, 0, 1, 1, 1, 0, -1]
_DC1 = [0, 1, 1, 1, 0, -1, -1, -1]
_DR2 = [-1, 0, 1, 1, 1, 0, -1, -1]
_DC2 = [1, 1, 1, 0, -1, -1, -1, 0]


def _case(vals, var="sec"):
    return "CASE " + " ".join(f"WHEN {var} = {i} THEN {v}" for i, v in enumerate(vals)) + " END"


def _dinf_accum_sql() -> str:
    base = _dinf_sql()
    head, _tail = base.rsplit("SELECT c.cell_row,", 1)
    # unrounded DInf angle per cell (matching the Spark operator output)
    ddir = f"""ddir AS MATERIALIZED (SELECT c.cell_row, c.cell_col,
  CASE WHEN w.s > 0.0 THEN
    CASE WHEN 360.0 - degrees(w.dir) + 90.0 > 360.0
         THEN 360.0 - degrees(w.dir) + 90.0 - 360.0
         ELSE 360.0 - degrees(w.dir) + 90.0 END
  ELSE -1.0 END AS dir
FROM r c LEFT JOIN win w ON w.cell_row = c.cell_row AND w.cell_col = c.cell_col),
dd AS MATERIALIZED (SELECT cell_row, cell_col,
        cell_row * {GRID.cols} + cell_col AS a, dir,
        least(CAST(floor(dir / 45.0) AS INTEGER), 7) AS sec
      FROM ddir WHERE dir >= 0.0),
tg AS (SELECT a, cell_row + {_case(_DR1)} AS nr, cell_col + {_case(_DC1)} AS nc,
              ((CAST(sec AS DOUBLE) + 1.0) * 45.0 - dir) / 45.0 AS w
       FROM dd
       UNION ALL
       SELECT a, cell_row + {_case(_DR2)}, cell_col + {_case(_DC2)},
              (dir - CAST(sec AS DOUBLE) * 45.0) / 45.0
       FROM dd),
ed AS MATERIALIZED (SELECT t.a, t.nr * {GRID.cols} + t.nc AS b, t.w
      FROM tg t JOIN ddir p ON p.cell_row = t.nr AND p.cell_col = t.nc
      WHERE t.w > 0.0),
a0 AS (SELECT cell_row * {GRID.cols} + cell_col AS id, CAST(1.0 AS DOUBLE) AS val FROM ddir)"""
    blocks = [ddir]
    for i in range(1, ACC_ROUNDS + 1):
        blocks.append(
            f"a{i} AS MATERIALIZED (SELECT z.id, 1.0 + coalesce(u.s, 0.0) AS val "
            f"FROM a0 z LEFT JOIN (SELECT e.b, sum(e.w * p.val) AS s "
            f"FROM ed e JOIN a{i-1} p ON p.id = e.a GROUP BY e.b) u ON u.b = z.id)"
        )
    joined = ",\n".join(blocks)
    return f"""{head.rstrip().rstrip(',')},
{joined}
SELECT CAST(id // {GRID.cols} AS BIGINT) AS cell_row,
       CAST(id % {GRID.cols} AS BIGINT) AS cell_col,
       round(CAST(val AS DOUBLE), 6) AS value
FROM a{ACC_ROUNDS}"""


def _voronoi_sql() -> str:
    return f"""WITH {_PTS_CTE},
{_CELLS_CTE},
seeds AS MATERIALIZED (SELECT doc_id AS sid, x, y FROM pts WHERE doc_id < {VOR_N})
SELECT c.cell_row, c.cell_col, CAST(s.sid AS DOUBLE) AS value
FROM cells c CROSS JOIN seeds s
QUALIFY row_number() OVER (PARTITION BY c.cell_row, c.cell_col
  ORDER BY (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) ASC, s.sid ASC) = 1"""


ORACLE_SQL = {
    "dinf_flow_accum": _dinf_accum_sql(),
    "voronoi_raster": _voronoi_sql(),
}
