"""Query catalog: unnest basins, spur removal, stochastic depressions,
segmentation-based LiDAR filter, convex buffer areas."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from whitebox_tools_spark import derive
from whitebox_tools_spark.catalog_grid import GRID, _PTS_CTE
from whitebox_tools_spark.catalog_hydro2 import _fill_sql, FILL_ROUNDS
from whitebox_tools_spark.catalog_iter import _Z_CTE, _d8_dir_sql
from whitebox_tools_spark.catalog_lidar import _NORMAL_CTES, RADIUS, SEG_ANGLE, _R2
from whitebox_tools_spark.operators import hydro, misc6 as m6
from whitebox_tools_spark.sources import vectors
from whitebox_tools_spark.sources.tables import documents
from whitebox_tools_spark.localrel import local_df

TILE_SIZE = 8
POUR_MOD = 37
SPUR_ITERS = 10
SD_K, SD_RMSE = 2, 2.0
NZ_T = 0.94
BUF_D = 30.0

_DYS = ",".join(str(v) for v in hydro.D8_DY)
_DXS = ",".join(str(v) for v in hydro.D8_DX)


def _z(spark, sf_dir):
    from whitebox_tools_spark import catalog_cache as _cc
    return _cc.z_last(spark, sf_dir)


def q_unnest(spark, sf_dir):
    z = _z(spark, sf_dir)
    cell = F.col("row") * GRID.cols + F.col("col")
    pour = z.where(F.pmod(cell, F.lit(POUR_MOD)) == 0).select("row", "col")
    return m6.unnest_basins(z, pour, GRID, TILE_SIZE).select(
        F.col("row").alias("cell_row"), F.col("col").alias("cell_col"), "value"
    )


def q_remove_spurs(spark, sf_dir):
    from whitebox_tools_spark import catalog_cache as _cc

    st = _cc.streams_t(spark, sf_dir, 2.0, TILE_SIZE)
    return m6.remove_spurs(st, GRID, SPUR_ITERS, TILE_SIZE).select(
        F.col("row").alias("cell_row"), F.col("col").alias("cell_col"), "value"
    )


def q_stochastic(spark, sf_dir):
    return m6.stochastic_depression_analysis(
        _z(spark, sf_dir), GRID, SD_K, SD_RMSE, FILL_ROUNDS
    ).select(
        F.col("row").alias("cell_row"), F.col("col").alias("cell_col"), "value"
    )


def q_seg_filter(spark, sf_dir):
    geo = derive.with_geometry(documents(spark, sf_dir), "doc_id")
    from whitebox_tools_spark import catalog_cache as _ccn
    return m6.lidar_segmentation_based_filter(
        geo, RADIUS, SEG_ANGLE, NZ_T,
        nv=_ccn.normals(spark, sf_dir, RADIUS),
        pairs=_ccn.pairs3d(spark, sf_dir, RADIUS),
    ).select(
        "doc_id", "cls_out"
    )


def q_buffer_vector(spark, sf_dir):
    layer = local_df(spark, vectors.layer_to_rows(vectors.rect_layer()))
    return m6.buffer_vector_convex_area(layer, BUF_D).select(
        "fid", F.round("buffered_area", 6).alias("buffered_area")
    )


QUERIES = {
    "unnest_basins": q_unnest,
    "remove_spurs": q_remove_spurs,
    "stochastic_depressions": q_stochastic,
    "lidar_segmentation_filter": q_seg_filter,
    "buffer_vector_area": q_buffer_vector,
}

HEADLINE = ("lidar_segmentation_filter",)


# ------------------------------------------------------------- oracle SQL


def _unnest_sql() -> str:
    return f"""WITH RECURSIVE {_PTS_CTE},
{_Z_CTE},
{_d8_dir_sql().lstrip()},
nodes AS (SELECT cell_row, cell_col, cell_row * {GRID.cols} + cell_col AS id, dir FROM dirs),
down AS MATERIALIZED (SELECT id AS a,
                (cell_row + [{_DYS}][dir + 1]) * {GRID.cols}
                  + (cell_col + [{_DXS}][dir + 1]) AS b
         FROM nodes WHERE dir >= 0),
pour AS MATERIALIZED (SELECT id FROM nodes WHERE id % {POUR_MOD} = 0),
wk AS (SELECT id AS src, id AS cur, 0 AS n FROM pour
       UNION ALL
       SELECT w.src, d.b,
              w.n + (CASE WHEN d.b IN (SELECT id FROM pour) THEN 1 ELSE 0 END)
       FROM wk w JOIN down d ON d.a = w.cur)
SELECT n2.cell_row, n2.cell_col, CAST(mx.lv + 1 AS DOUBLE) AS value
FROM (SELECT src, max(n) AS lv FROM wk GROUP BY src) mx
JOIN nodes n2 ON n2.id = mx.src"""


def _spurs_sql() -> str:
    offs = ", ".join(f"({hydro.D8_DY[i]}, {hydro.D8_DX[i]})" for i in range(8))
    blocks = [
        f"""walk0 AS (SELECT id AS src, id AS cur FROM nodes
          UNION ALL
          SELECT w.src, d.b FROM walk0 w JOIN down d ON d.a = w.cur),
accum AS (SELECT cur AS id, CAST(count(*) AS DOUBLE) AS value FROM walk0 GROUP BY cur),
o8 AS (SELECT * FROM (VALUES {offs}) o(dr, dc)),
f0 AS MATERIALIZED (SELECT n.cell_row, n.cell_col FROM nodes n
      JOIN accum a ON a.id = n.id WHERE a.value > 2.0)"""
    ]
    for i in range(1, SPUR_ITERS + 1):
        blocks.append(
            f"""f{i} AS MATERIALIZED (
  SELECT c.cell_row, c.cell_col FROM f{i-1} c
  JOIN o8 o ON TRUE
  JOIN f{i-1} n ON n.cell_row = c.cell_row + o.dr AND n.cell_col = c.cell_col + o.dc
  GROUP BY c.cell_row, c.cell_col HAVING count(*) >= 2)"""
        )
    joined = ",\n".join(blocks)
    return f"""WITH RECURSIVE {_PTS_CTE},
{_Z_CTE},
{_d8_dir_sql().lstrip()},
nodes AS (SELECT cell_row, cell_col, cell_row * {GRID.cols} + cell_col AS id, dir FROM dirs),
down AS MATERIALIZED (SELECT id AS a,
                (cell_row + [{_DYS}][dir + 1]) * {GRID.cols}
                  + (cell_col + [{_DXS}][dir + 1]) AS b
         FROM nodes WHERE dir >= 0),
{joined}
SELECT r.cell_row, r.cell_col,
       CASE WHEN k.cell_row IS NOT NULL THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS value
FROM r LEFT JOIN f{SPUR_ITERS} k
  ON k.cell_row = r.cell_row AND k.cell_col = r.cell_col"""


def _fill_chain(prefix: str, base: str, rounds: int) -> str:
    """Planchon-Darboux chain over CTE ``base`` (cell_row, cell_col,
    value), every CTE prefixed — mirrors catalog_hydro2._fill_sql."""
    dx = hydro.D8_DX
    dy = hydro.D8_DY
    offs = ", ".join(f"({b}, {a})" for a, b in zip(dx, dy))
    blocks = [
        f"""{prefix}cells AS MATERIALIZED (SELECT cell_row, cell_col,
        cell_row * {GRID.cols} + cell_col AS id, value AS z FROM {base}),
{prefix}offs AS (SELECT * FROM (VALUES {offs}) o(dr, dc)),
{prefix}probe AS (SELECT c.id, c.cell_row + o.dr AS nr, c.cell_col + o.dc AS nc
       FROM {prefix}cells c CROSS JOIN {prefix}offs o),
{prefix}pairs AS MATERIALIZED (SELECT p.id AS a, n.id AS b
       FROM {prefix}probe p JOIN {prefix}cells n
         ON n.cell_row = p.nr AND n.cell_col = p.nc),
{prefix}border AS MATERIALIZED (
  SELECT DISTINCT id FROM {prefix}probe p
  WHERE p.nr < 0 OR p.nr >= {GRID.rows} OR p.nc < 0 OR p.nc >= {GRID.cols}
     OR NOT EXISTS (SELECT 1 FROM {prefix}cells n
                    WHERE n.cell_row = p.nr AND n.cell_col = p.nc)),
{prefix}w0 AS MATERIALIZED (SELECT c.id, c.z,
        CASE WHEN b.id IS NOT NULL THEN c.z ELSE CAST('inf' AS DOUBLE) END AS w
        FROM {prefix}cells c LEFT JOIN {prefix}border b ON b.id = c.id)"""
    ]
    for i in range(1, rounds + 1):
        blocks.append(
            f"{prefix}m{i} AS (SELECT p.a, min(w.w) AS mn FROM {prefix}pairs p "
            f"JOIN {prefix}w{i-1} w ON w.id = p.b GROUP BY p.a)"
        )
        blocks.append(
            f"{prefix}w{i} AS MATERIALIZED (SELECT w.id, w.z, "
            f"greatest(w.z, least(w.w, coalesce(m.mn, w.w))) AS w "
            f"FROM {prefix}w{i-1} w LEFT JOIN {prefix}m{i} m ON m.a = w.id)"
        )
    return ",\n".join(blocks)


def _stochastic_sql_v2() -> str:
    chains = []
    flags = []
    for i in range(SD_K):
        noise = (
            f"((CAST(((cell_row * {GRID.cols} + cell_col) * 8 + {i}) * {m6.SD_A1} + {m6.SD_B1} AS BIGINT)"
            f" % {m6._M32}) / {float(m6._M32)!r} * 2.0 - 1.0) * {SD_RMSE!r}"
        )
        chains.append(
            f"k{i}z AS MATERIALIZED (SELECT cell_row, cell_col, value + {noise} AS value FROM r),\n"
            + _fill_chain(f"k{i}", f"k{i}z", FILL_ROUNDS)
        )
        flags.append(
            f"fl{i} AS (SELECT CAST(id // {GRID.cols} AS BIGINT) AS cell_row,"
            f" CAST(id % {GRID.cols} AS BIGINT) AS cell_col,"
            f" CASE WHEN w > z THEN 1.0 ELSE 0.0 END AS f{i} FROM k{i}w{FILL_ROUNDS})"
        )
    joined = ",\n".join(chains + flags)
    return f"""WITH {_PTS_CTE},
{_Z_CTE},
{joined}
SELECT a.cell_row, a.cell_col,
       CAST((a.f0 + b.f1) / {float(SD_K)!r} AS DOUBLE) AS value
FROM fl0 a JOIN fl1 b ON b.cell_row = a.cell_row AND b.cell_col = a.cell_col"""


def _seg_filter_sql() -> str:
    return f"""WITH RECURSIVE {_PTS_CTE},
{_NORMAL_CTES},
pn AS MATERIALIZED (SELECT p.doc_id, p.x, p.y, p.z, n.nx, n.ny, n.nz
      FROM pts p JOIN normals n ON n.doc_id = p.doc_id),
ed AS MATERIALIZED (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM pn a JOIN pn b
    ON (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
       + (a.z - b.z) * (a.z - b.z) <= {_R2!r}
   AND NOT ((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) = 0.0)
   AND abs(a.nx * b.nx + a.ny * b.ny + a.nz * b.nz) >= {math.cos(math.radians(SEG_ANGLE))!r}),
sym AS (SELECT a, b FROM ed UNION ALL SELECT b, a FROM ed),
cc AS (SELECT doc_id AS node, doc_id AS lbl FROM pts
       UNION
       SELECT s.b, cc.lbl FROM cc JOIN sym s ON s.a = cc.node),
comp AS MATERIALIZED (SELECT node, min(lbl) AS comp FROM cc GROUP BY node),
per AS (SELECT c.comp, sum(abs(n.nz)) / count(*) AS mnz
        FROM comp c JOIN normals n ON n.doc_id = c.node GROUP BY c.comp)
SELECT c.node AS doc_id,
       CASE WHEN per.mnz >= {NZ_T!r} THEN CAST(2.0 AS DOUBLE) ELSE CAST(1.0 AS DOUBLE) END AS cls_out
FROM comp c JOIN per ON per.comp = c.comp"""


def _buffer_sql() -> str:
    rows = []
    for fid, xmin, ymin, xmax, ymax, _h in vectors.RECT_SPECS:
        area = (xmax - xmin) * (ymax - ymin)
        perim = 2.0 * ((xmax - xmin) + (ymax - ymin))
        rows.append(f"({fid}, {area!r}, {perim!r})")
    return f"""WITH m(fid, area, perim) AS (VALUES {', '.join(rows)})
SELECT fid,
       round(CAST(area AS DOUBLE) + CAST(perim AS DOUBLE) * {BUF_D!r} + CAST({math.pi!r} AS DOUBLE) * {BUF_D!r} * {BUF_D!r}, 6) AS buffered_area
FROM m"""


ORACLE_SQL = {
    "unnest_basins": _unnest_sql(),
    "remove_spurs": _spurs_sql(),
    "stochastic_depressions": _stochastic_sql_v2(),
    "lidar_segmentation_filter": _seg_filter_sql(),
    "buffer_vector_area": _buffer_sql(),
}


# ------------------------------------------------ buffer outline geometry

BUF_ARC_K = 4


def q_buffer_vector_geom(spark, sf_dir):
    layer = local_df(spark, vectors.layer_to_rows(vectors.rect_layer()))
    out = m6.buffer_vector_geometry(layer, BUF_D, BUF_ARC_K)
    return out.select(
        "fid", "part", "vi",
        F.round("x", 6).alias("x"), F.round("y", 6).alias("y"),
    )


QUERIES["buffer_vector_geom"] = q_buffer_vector_geom


def _buffer_geom_oracle_sql() -> str:
    """Expected buffered ring vertices from an INDEPENDENT plain-Python
    offset walk (math module only; same Minkowski contract as the engine
    HOFs but a separate implementation), inlined as VALUES."""
    rows = []
    for feat in vectors.rect_layer():
        for part, (ring, hole) in enumerate(zip(feat.rings, feat.holes)):
            if hole:
                continue
            p = [(float(x), float(y)) for x, y in ring[:-1]]
            s = sum(
                p[i][0] * p[(i + 1) % len(p)][1] - p[(i + 1) % len(p)][0] * p[i][1]
                for i in range(len(p))
            )
            if s < 0:
                p = p[::-1]
            n = len(p)

            def na(i):
                dx = p[(i + 1) % n][0] - p[i % n][0]
                dy = p[(i + 1) % n][1] - p[i % n][1]
                return math.atan2(dy, dx) - math.pi / 2.0

            vi = 0
            for i in range(n):
                a_in, a_out = na(i - 1), na(i)
                delta = math.fmod(a_out - a_in, 2.0 * math.pi)
                if delta < 0:
                    delta += 2.0 * math.pi
                for j in range(BUF_ARC_K + 1):
                    a = a_in + delta * j / float(BUF_ARC_K)
                    rows.append(
                        (
                            feat.fid, part, vi,
                            round(p[i][0] + BUF_D * math.cos(a), 6),
                            round(p[i][1] + BUF_D * math.sin(a), 6),
                        )
                    )
                    vi += 1
    vals = ", ".join(
        f"({fid}, {part}, {vi}, {x!r}, {y!r})" for fid, part, vi, x, y in rows
    )
    return (
        "SELECT CAST(fid AS BIGINT) AS fid, CAST(part AS BIGINT) AS part, "
        "CAST(vi AS INT) AS vi, CAST(x AS DOUBLE) AS x, CAST(y AS DOUBLE) AS y "
        f"FROM (VALUES {vals}) AS t(fid, part, vi, x, y)"
    )


ORACLE_SQL["buffer_vector_geom"] = _buffer_geom_oracle_sql()
