"""Query catalog: the core tiling, clip, tag and neighbour-join queries.

LidarTile tile assignment, point clip and polygon tag against the
rectangle layer, fixed-radius and kNN joins, each paired with its DuckDB
oracle SQL. Geometry is derived via ``derive`` (bit-identical in Spark /
DuckDB / numpy), so each Spark pipeline has an exact relational oracle.

Column-name contract: Spark output and oracle SQL use identical aliases.
Float columns that are per-row deterministic are emitted raw; aggregates
that sum many doubles are rounded on BOTH sides to absorb accumulation
order (documented per query).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whitebox_tools_spark import derive
from whitebox_tools_spark.operators import tiling
from whitebox_tools_spark.operators.pip import clip_points, tag_polygon
from whitebox_tools_spark.operators.radius_join import knn_join, radius_join
from whitebox_tools_spark.sources import vectors
from whitebox_tools_spark.sources.tables import documents

# ---------------------------------------------------------------- helpers

TILE = dict(origin_x=0.0, origin_y=0.0, width=250.0, height=250.0)
RADIUS = 25.0
KNN_K = 4
KNN_RADIUS = 50.0

_GEO_SQL = derive.sql_geometry_select("doc_id")

_PTS_CTE = f"pts AS (SELECT doc_id, {_GEO_SQL} FROM documents)"

# tile grid CTEs shared by the tiling oracles (LidarTile arithmetic,
# lidar_tile.rs:257-282)
_TILE_CTES = f"""
{_PTS_CTE},
ext AS (SELECT min(x) AS mn_x, max(x) AS mx_x, min(y) AS mn_y, max(y) AS mx_y FROM pts),
grid AS (SELECT floor((mn_x - 0.0) / 250.0) AS sx, ceil((mx_x - 0.0) / 250.0) AS ex,
                floor((mn_y - 0.0) / 250.0) AS sy, ceil((mx_y - 0.0) / 250.0) AS ey
         FROM ext),
tiles AS (SELECT doc_id, x, y,
                 CAST(floor((x - 0.0) / 250.0 - sx) AS BIGINT) AS tile_col,
                 CAST(floor((y - 0.0) / 250.0 - sy) AS BIGINT) AS tile_row,
                 CAST(abs(ex - sx) AS BIGINT) AS n_cols
          FROM pts CROSS JOIN grid)
"""


def _docs_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    return derive.with_geometry(documents(spark, sf_dir), "doc_id")


def _points_queries_split(spark: SparkSession, sf_dir: str):
    """Deterministic split: doc_id % 10 == 0 -> query side, else point side."""
    geo = _docs_geo(spark, sf_dir)
    pts = geo.where(F.pmod(F.col("doc_id"), F.lit(10)) != 0).select(
        F.col("doc_id").alias("pid"), "x", "y", "z"
    )
    qs = geo.where(F.pmod(F.col("doc_id"), F.lit(10)) == 0).select(
        F.col("doc_id").alias("qid"), "x", "y"
    )
    return pts, qs


_SPLIT_CTES = f"""
{_PTS_CTE},
p AS (SELECT doc_id AS pid, x, y, z FROM pts WHERE doc_id % 10 <> 0),
q AS (SELECT doc_id AS qid, x, y FROM pts WHERE doc_id % 10 = 0)
"""


# ---------------------------------------------------------------- queries


def q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tiling.assign_tiles(_docs_geo(spark, sf_dir), **TILE).select(
        "doc_id", "x", "y", "tile_col", "tile_row", "tile"
    )


def q_tile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tiling.lidar_tile(_docs_geo(spark, sf_dir), min_points=2, **TILE).select(
        "doc_id", "tile"
    )


def q_tile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tiling.tile_counts(
        tiling.assign_tiles(_docs_geo(spark, sf_dir), **TILE)
    ).select("tile", "n_points")


def q_clip_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return clip_points(_docs_geo(spark, sf_dir), vectors.rect_layer(), "semi").select(
        "doc_id", "x", "y"
    )


def q_clip_semi_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clip as clip_semi, forced onto the no-broadcast cell-join
    strategy (operators/pip_cells.py) so the huge-layer path has its own
    oracle row."""
    return clip_points(
        _docs_geo(spark, sf_dir), vectors.rect_layer(), "semi", strategy="cells"
    ).select("doc_id", "x", "y")


def q_clip_lidar_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClipLidarToPolygon's rule (``shell_then_hole``) on the rectangle
    layer. Its features are disjoint, so the rule agrees with Clip's
    there and clip_semi's oracle holds; the overlap cases that tell the
    two rules apart are in tests/test_pip.py."""
    return clip_points(
        _docs_geo(spark, sf_dir), vectors.rect_layer(), "semi", "shell_then_hole"
    ).select("doc_id", "x", "y")


def q_clip_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    return clip_points(_docs_geo(spark, sf_dir), vectors.rect_layer(), "anti").select(
        "doc_id", "x", "y"
    )


def q_tag_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tag_polygon(_docs_geo(spark, sf_dir), vectors.rect_layer()).select(
        "doc_id", "poly_fid"
    )


def q_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts, qs = _points_queries_split(spark, sf_dir)
    return radius_join(pts, qs, RADIUS).select(
        "qid", F.col("pid_p").alias("pid"), "dist"
    )


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts, qs = _points_queries_split(spark, sf_dir)
    return knn_join(pts, qs, k=KNN_K, radius=KNN_RADIUS).select(
        "qid", F.col("pid_p").alias("pid"), "dist", "knn_rank"
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "tile_assign": q_tile_assign,
    "tile_filter": q_tile_filter,
    "tile_counts": q_tile_counts,
    "clip_semi": q_clip_semi,
    "clip_semi_cells": q_clip_semi_cells,
    "clip_lidar_semi": q_clip_lidar_semi,
    "clip_anti": q_clip_anti,
    "tag_polygon": q_tag_polygon,
    "radius_join": q_radius_join,
    "knn_join": q_knn_join,
}

HEADLINE = ("tile_assign", "clip_semi", "tag_polygon", "radius_join", "knn_join")


# ------------------------------------------------------------- oracle SQL


def _oracle_radius() -> str:
    inv_r = 1.0 / (RADIUS * 0.5)
    return f"""
WITH {_SPLIT_CTES},
pc AS (SELECT *, CAST(floor(x * {inv_r!r}) AS BIGINT) AS ci,
                 CAST(floor(y * {inv_r!r}) AS BIGINT) AS cj FROM p),
qc AS (SELECT *, CAST(floor(x * {inv_r!r}) AS BIGINT) AS ci,
                 CAST(floor(y * {inv_r!r}) AS BIGINT) AS cj FROM q)
SELECT qc.qid AS qid, pc.pid AS pid,
       sqrt((qc.x - pc.x) * (qc.x - pc.x) + (qc.y - pc.y) * (qc.y - pc.y)) AS dist
FROM qc JOIN pc
  ON abs(qc.ci - pc.ci) <= 2 AND abs(qc.cj - pc.cj) <= 2
WHERE (qc.x - pc.x) * (qc.x - pc.x) + (qc.y - pc.y) * (qc.y - pc.y)
      <= {RADIUS * RADIUS!r}
"""


def _oracle_knn() -> str:
    inv_r = 1.0 / (KNN_RADIUS * 0.5)
    k = KNN_K
    return f"""
WITH {_SPLIT_CTES},
pc AS (SELECT *, CAST(floor(x * {inv_r!r}) AS BIGINT) AS ci,
                 CAST(floor(y * {inv_r!r}) AS BIGINT) AS cj FROM p),
qc AS (SELECT *, CAST(floor(x * {inv_r!r}) AS BIGINT) AS ci,
                 CAST(floor(y * {inv_r!r}) AS BIGINT) AS cj FROM q),
pairs AS (
  SELECT qc.qid, pc.pid, pc.x AS px, pc.y AS py,
         greatest(greatest(abs(pc.ci - qc.ci), abs(pc.cj - qc.cj)), 1) AS shell,
         (qc.x - pc.x) * (qc.x - pc.x) + (qc.y - pc.y) * (qc.y - pc.y) AS d2
  FROM qc CROSS JOIN pc),
ranked AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY shell) AS rn
           FROM pairs),
sstop AS (SELECT qid,
                 coalesce(max(CASE WHEN rn = {k} THEN shell END), max(shell)) AS s_stop
          FROM ranked GROUP BY qid),
cand AS (SELECT r.* FROM ranked r JOIN sstop s
           ON r.qid = s.qid AND r.shell <= s.s_stop),
topk AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY d2, px, py)
                AS knn_rank
         FROM cand)
SELECT qid, pid, sqrt(d2) AS dist, CAST(knn_rank AS INT) AS knn_rank
FROM topk WHERE knn_rank <= {k}
"""


ORACLE_SQL: dict[str, str] = {
    "tile_assign": f"""
WITH {_TILE_CTES}
SELECT doc_id, x, y, tile_col, tile_row, tile_row * n_cols + tile_col AS tile
FROM tiles
""",
    "tile_filter": f"""
WITH {_TILE_CTES},
t AS (SELECT doc_id, tile_row * n_cols + tile_col AS tile FROM tiles)
SELECT doc_id, tile FROM t
QUALIFY count(*) OVER (PARTITION BY tile) > 2
""",
    "tile_counts": f"""
WITH {_TILE_CTES},
t AS (SELECT doc_id, tile_row * n_cols + tile_col AS tile FROM tiles)
SELECT tile, count(*) AS n_points FROM t GROUP BY tile
""",
    "clip_semi": f"""
WITH {_PTS_CTE}
SELECT doc_id, x, y FROM pts WHERE {vectors.rect_layer_sql_predicate()}
""",
    "clip_semi_cells": f"""
WITH {_PTS_CTE}
SELECT doc_id, x, y FROM pts WHERE {vectors.rect_layer_sql_predicate()}
""",
    "clip_lidar_semi": f"""
WITH {_PTS_CTE}
SELECT doc_id, x, y FROM pts WHERE {vectors.rect_layer_sql_predicate()}
""",
    "clip_anti": f"""
WITH {_PTS_CTE}
SELECT doc_id, x, y FROM pts WHERE NOT {vectors.rect_layer_sql_predicate()}
""",
    "tag_polygon": f"""
WITH {_PTS_CTE}
SELECT doc_id, CAST({vectors.rect_layer_fid_case()} AS BIGINT) AS poly_fid FROM pts
""",
    "radius_join": _oracle_radius(),
    "knn_join": _oracle_knn(),
}
