"""Query catalog: polygon overlay measures (Sutherland-Hodgman core),
dissolve, line editing (smooth / extend / merge / split), patch
narrowness. Overlay oracles use the closed-form axis-aligned rectangle
intersection on the fixture layers while the engine path runs the
general convex-clip kernel."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whitebox_tools_spark import derive
from whitebox_tools_spark.catalog_grid import GRID, _COL_SQL, _IN_GRID_SQL, _PTS_CTE, _ROW_SQL
from whitebox_tools_spark.operators import raster as rop
from whitebox_tools_spark.operators import vector_ops as vo
from whitebox_tools_spark.sources import vectors
from whitebox_tools_spark.sources.tables import documents
from whitebox_tools_spark.localrel import local_df

EXTEND_D = 25.0


def _layer_a(spark):
    return local_df(spark, vectors.layer_to_rows(vectors.rect_layer()))


def _layer_b(spark):
    return local_df(spark, vectors.layer_to_rows(vectors.rect_layer_b()))


def _paths(spark):
    return local_df(spark, vectors.LINE_PATHS)


def q_overlay(spark, sf_dir):
    return vo.overlay_measures(_layer_a(spark), _layer_b(spark)).select(
        "fid",
        F.round("area", 6).alias("area"),
        F.round("clip_area", 6).alias("clip_area"),
        F.round("erase_area", 6).alias("erase_area"),
    )


def q_dissolve(spark, sf_dir):
    layer = _layer_a(spark).withColumn("parity", F.pmod("fid", F.lit(2)))
    return vo.dissolve(layer, "parity").select(
        F.col("key").cast("long").alias("key"),
        F.round("area", 6).alias("area"), "n_parts",
    )


def q_smooth(spark, sf_dir):
    return vo.smooth_vectors(_paths(spark)).select(
        "seg_id", "i", F.round("x", 6).alias("x"), F.round("y", 6).alias("y")
    )


def q_extend(spark, sf_dir):
    return vo.extend_vector_lines(_paths(spark), EXTEND_D).select(
        "seg_id", "i", F.round("x", 6).alias("x"), F.round("y", 6).alias("y")
    )


def q_merge(spark, sf_dir):
    segs = local_df(
        spark,
        [dict(seg_id=i, x1=a, y1=b, x2=c, y2=d) for i, a, b, c, d in vectors.MERGE_SEGS],
    )
    return vo.merge_line_segments(segs).select("seg_id", "chain")


def q_split(spark, sf_dir):
    l1 = local_df(spark, vectors.line_layer_rows(vectors.LINE_SPECS_1))
    l2 = local_df(spark, vectors.line_layer_rows(vectors.LINE_SPECS_2))
    return vo.split_with_lines(l1, l2).select(
        "s1", "piece", F.round("length", 6).alias("length")
    )


def q_narrowness(spark, sf_dir):
    geo = derive.with_geometry(documents(spark, sf_dir), "doc_id")
    cls = rop.points_to_raster(geo, GRID, assign="max", field="cls").select(
        "row", "col", F.col("value").cast("double").alias("value")
    )
    return vo.narrowness_index(cls, GRID).select(
        F.col("row").alias("cell_row"), F.col("col").alias("cell_col"),
        F.round("value", 6).alias("value"),
    )


QUERIES = {
    "polygon_overlay": q_overlay,
    "dissolve": q_dissolve,
    "smooth_vectors": q_smooth,
    "extend_vector_lines": q_extend,
    "merge_line_segments": q_merge,
    "split_with_lines": q_split,
    "narrowness_index": q_narrowness,
}

HEADLINE = ("polygon_overlay", "dissolve", "split_with_lines", "narrowness_index")


# ------------------------------------------------------------- oracle SQL


def _rects_values(specs, name):
    vals = ", ".join(
        f"({fid}, {xmin!r}, {ymin!r}, {xmax!r}, {ymax!r})"
        for fid, xmin, ymin, xmax, ymax, _hole in specs
    )
    return f"{name}(fid, xmin, ymin, xmax, ymax) AS (VALUES {vals})"


_OVERLAY_SQL = f"""WITH {_rects_values(vectors.RECT_SPECS, 'ra')},
{_rects_values(vectors.RECT_SPECS_B, 'rb')},
inter AS (SELECT a.fid,
        CAST(greatest(0.0, least(a.xmax, b.xmax) - greatest(a.xmin, b.xmin))
      * greatest(0.0, least(a.ymax, b.ymax) - greatest(a.ymin, b.ymin)) AS DOUBLE) AS ia
  FROM ra a CROSS JOIN rb b),
per AS (SELECT fid, sum(ia) AS clip_area FROM inter GROUP BY fid)
SELECT a.fid,
       round(CAST((a.xmax - a.xmin) * (a.ymax - a.ymin) AS DOUBLE), 6) AS area,
       round(per.clip_area, 6) AS clip_area,
       round(CAST((a.xmax - a.xmin) * (a.ymax - a.ymin) AS DOUBLE) - per.clip_area, 6) AS erase_area
FROM ra a JOIN per ON per.fid = a.fid"""


def _dissolve_sql():
    rows = []
    for fid, xmin, ymin, xmax, ymax, hole in vectors.RECT_SPECS:
        shell = (xmax - xmin) * (ymax - ymin)
        rows.append((fid, shell, False))
        if hole:
            hx0, hy0, hx1, hy1 = hole
            rows.append((fid, (hx1 - hx0) * (hy1 - hy0), True))
    vals = ", ".join(
        f"({fid}, {area!r}, {str(h).upper()})" for fid, area, h in rows
    )
    return f"""WITH parts(fid, area, is_hole) AS (VALUES {vals})
SELECT CAST(fid % 2 AS BIGINT) AS key,
       round(CAST(sum(CASE WHEN is_hole THEN -area ELSE area END) AS DOUBLE), 6) AS area,
       CAST(count(*) AS BIGINT) AS n_parts
FROM parts GROUP BY fid % 2"""


def _paths_values(name):
    vals = []
    for p in vectors.LINE_PATHS:
        xs = "[" + ", ".join(repr(v) for v in p["xs"]) + "]"
        ys = "[" + ", ".join(repr(v) for v in p["ys"]) + "]"
        vals.append(f"({p['seg_id']}, {xs}, {ys})")
    return f"{name}(seg_id, xs, ys) AS (VALUES {', '.join(vals)})"


_SMOOTH_SQL = f"""WITH {_paths_values('paths')},
v AS (SELECT seg_id, len(xs) AS n, u.v[1] AS x, u.v[2] AS y,
             row_number() OVER (PARTITION BY seg_id) - 1 AS i
      FROM paths, unnest(list_zip(xs, ys)) AS u(v)),
s AS (SELECT seg_id, i, n, x, y,
             lag(x) OVER (PARTITION BY seg_id ORDER BY i) AS px,
             lead(x) OVER (PARTITION BY seg_id ORDER BY i) AS nx,
             lag(y) OVER (PARTITION BY seg_id ORDER BY i) AS py,
             lead(y) OVER (PARTITION BY seg_id ORDER BY i) AS ny
      FROM v)
SELECT seg_id, i,
       round(CASE WHEN i > 0 AND i < n - 1 THEN (px + x + nx) / 3.0 ELSE x END, 6) AS x,
       round(CASE WHEN i > 0 AND i < n - 1 THEN (py + y + ny) / 3.0 ELSE y END, 6) AS y
FROM s"""

_EXTEND_SQL = f"""WITH {_paths_values('paths')},
v AS (SELECT seg_id, len(xs) AS n, u.v[1] AS x, u.v[2] AS y,
             row_number() OVER (PARTITION BY seg_id) - 1 AS i
      FROM paths, unnest(list_zip(xs, ys)) AS u(v)),
s AS (SELECT seg_id, i, n, x, y,
             lag(x) OVER (PARTITION BY seg_id ORDER BY i) AS px,
             lead(x) OVER (PARTITION BY seg_id ORDER BY i) AS nx,
             lag(y) OVER (PARTITION BY seg_id ORDER BY i) AS py,
             lead(y) OVER (PARTITION BY seg_id ORDER BY i) AS ny
      FROM v)
SELECT seg_id, i,
  round(CASE WHEN i = 0 THEN x - {EXTEND_D!r} * (nx - x) / sqrt((nx - x) * (nx - x) + (ny - y) * (ny - y))
             WHEN i = n - 1 THEN x + {EXTEND_D!r} * (x - px) / sqrt((x - px) * (x - px) + (y - py) * (y - py))
             ELSE x END, 6) AS x,
  round(CASE WHEN i = 0 THEN y - {EXTEND_D!r} * (ny - y) / sqrt((nx - x) * (nx - x) + (ny - y) * (ny - y))
             WHEN i = n - 1 THEN y + {EXTEND_D!r} * (y - py) / sqrt((x - px) * (x - px) + (y - py) * (y - py))
             ELSE y END, 6) AS y
FROM s"""


def _merge_sql():
    vals = ", ".join(
        f"({i}, {a!r}, {b!r}, {c!r}, {d!r})" for i, a, b, c, d in vectors.MERGE_SEGS
    )
    return f"""WITH RECURSIVE segs(seg_id, x1, y1, x2, y2) AS (VALUES {vals}),
ends AS (SELECT seg_id, x1 AS x, y1 AS y FROM segs
         UNION ALL SELECT seg_id, x2, y2 FROM segs),
pr AS (SELECT u.seg_id AS a, v.seg_id AS b FROM ends u JOIN ends v
       ON u.x = v.x AND u.y = v.y AND u.seg_id < v.seg_id),
sym AS (SELECT a, b FROM pr UNION ALL SELECT b, a FROM pr),
cc AS (SELECT seg_id AS node, seg_id AS lbl FROM segs
       UNION
       SELECT s.b, cc.lbl FROM cc JOIN sym s ON s.a = cc.node),
comp AS (SELECT node, min(lbl) AS comp FROM cc GROUP BY node),
ranked AS (SELECT comp, CAST(row_number() OVER (ORDER BY comp) AS DOUBLE) AS chain
           FROM (SELECT DISTINCT comp FROM comp))
SELECT c.node AS seg_id, r.chain
FROM comp c JOIN ranked r ON r.comp = c.comp"""


def _split_sql():
    return f"""WITH {vectors.line_specs_sql(vectors.LINE_SPECS_1, 'l1')},
{vectors.line_specs_sql(vectors.LINE_SPECS_2, 'l2')},
j AS (SELECT a.seg_id AS s1,
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
       FROM m WHERE rx * sy - ry * sx <> 0.0),
ip AS (SELECT s1, ax1 + t * rx AS x, ay1 + t * ry AS y FROM tm
       WHERE t >= 0.0 AND t <= 1.0 AND u >= 0.0 AND u <= 1.0),
seg AS (SELECT seg_id AS s1, x1, y1, x2, y2,
        sqrt((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1)) AS len FROM l1),
wt AS (SELECT ip.s1, seg.len,
       CASE WHEN abs(seg.x2 - seg.x1) >= abs(seg.y2 - seg.y1)
            THEN (ip.x - seg.x1) / (seg.x2 - seg.x1)
            ELSE (ip.y - seg.y1) / (seg.y2 - seg.y1) END AS t
       FROM ip JOIN seg ON seg.s1 = ip.s1),
bounds AS (SELECT DISTINCT * FROM (
  SELECT s1, len, t FROM wt
  UNION ALL SELECT s1, len, 0.0 FROM seg
  UNION ALL SELECT s1, len, 1.0 FROM seg)),
pieces AS (SELECT s1, len, t,
           lead(t) OVER (PARTITION BY s1 ORDER BY t) AS t2,
           row_number() OVER (PARTITION BY s1 ORDER BY t) AS piece
           FROM bounds)
SELECT s1, piece, round((t2 - t) * len, 6) AS length
FROM pieces WHERE t2 IS NOT NULL"""


def _narrow_sql():
    return f"""WITH {_PTS_CTE},
rc AS MATERIALIZED (SELECT {_ROW_SQL} AS cell_row, {_COL_SQL} AS cell_col,
      CAST(max(cls) AS DOUBLE) AS value
      FROM pts WHERE {_IN_GRID_SQL} GROUP BY cell_row, cell_col),
pos AS (SELECT cell_row, cell_col, value AS cls FROM rc WHERE value > 0.0),
dmin AS (SELECT p.cell_row, p.cell_col, p.cls,
         sqrt(min((CAST(p.cell_row - o.cell_row AS DOUBLE) * {GRID.res_y!r})
                    * (CAST(p.cell_row - o.cell_row AS DOUBLE) * {GRID.res_y!r})
                  + (CAST(p.cell_col - o.cell_col AS DOUBLE) * {GRID.res_x!r})
                    * (CAST(p.cell_col - o.cell_col AS DOUBLE) * {GRID.res_x!r}))) AS dd
         FROM pos p JOIN rc o ON o.value <> p.cls
         GROUP BY p.cell_row, p.cell_col, p.cls),
withd AS (SELECT p.cell_row, p.cell_col, p.cls,
          least(coalesce(d.dd, CAST('inf' AS DOUBLE)),
                CAST(least(p.cell_row + 1, p.cell_col + 1,
                           {GRID.rows} - p.cell_row, {GRID.cols} - p.cell_col) AS DOUBLE)
                  * {GRID.res_x!r}) AS d
          FROM pos p LEFT JOIN dmin d
            ON d.cell_row = p.cell_row AND d.cell_col = p.cell_col),
per AS (SELECT cls, max(d) AS md, CAST(count(*) AS BIGINT) AS n FROM withd GROUP BY cls)
SELECT w.cell_row, w.cell_col,
       round(CAST(per.n AS DOUBLE) * {GRID.res_x * GRID.res_y!r}
             / ({math.pi!r} * per.md * per.md), 6) AS value
FROM withd w JOIN per ON per.cls = w.cls"""


ORACLE_SQL = {
    "polygon_overlay": _OVERLAY_SQL,
    "dissolve": _dissolve_sql(),
    "smooth_vectors": _SMOOTH_SQL,
    "extend_vector_lines": _EXTEND_SQL,
    "merge_line_segments": _merge_sql(),
    "split_with_lines": _split_sql(),
    "narrowness_index": _narrow_sql(),
}


# ------------------------------------------ overlay GEOMETRY queries

_GEOM_COLS = "fid_a, fid_b, part, is_hole, vi, x, y"


def _geom_vertex_rows(df):
    """Explode canonical rings to vertex rows for row-comparable output."""
    z = F.posexplode(F.arrays_zip("xs", "ys"))
    return df.select(
        "fid_a", "fid_b", "part", "is_hole", z.alias("vi", "p")
    ).select(
        "fid_a", "fid_b", "part", "is_hole", "vi",
        F.round(F.col("p.xs"), 6).alias("x"), F.round(F.col("p.ys"), 6).alias("y"),
    )


def q_intersect_geom(spark, sf_dir):
    return _geom_vertex_rows(
        vo.overlay_geometry(_layer_a(spark), _layer_b(spark), "int")
    )


def q_union_geom(spark, sf_dir):
    return _geom_vertex_rows(
        vo.overlay_geometry(_layer_a(spark), _layer_b(spark), "union")
    )


def q_erase_geom(spark, sf_dir):
    return _geom_vertex_rows(
        vo.overlay_geometry(_layer_a(spark), _layer_b(spark), "diff")
    )


QUERIES["intersect_geom"] = q_intersect_geom
QUERIES["union_geom"] = q_union_geom
QUERIES["erase_geom"] = q_erase_geom


def _geom_oracle_sql(op: str) -> str:
    """Expected rings via the INDEPENDENT rect-grid boolean
    (sources/rect_ops.py: cell classification + boundary chaining vs the
    engine's Greiner-Hormann linked lists), inlined as VALUES.

    Mirrors the engine's even-odd ring-set encoding: shell rings and
    hole-contribution rings are separate records with independent part
    numbering (holes of A clipped per op, flagged is_hole)."""
    from whitebox_tools_spark.sources.rect_ops import region_rings

    def bbox_overlap(a, b):
        return a[0] <= b[2] and a[2] >= b[0] and a[1] <= b[3] and a[3] >= b[1]

    specs_a = {f: (x0, y0, x1, y1, hole) for f, x0, y0, x1, y1, hole in vectors.RECT_SPECS}
    specs_b = {f: (x0, y0, x1, y1) for f, x0, y0, x1, y1, _h in vectors.RECT_SPECS_B}

    rows = []

    def emit(fid_a, fid_b, rings, force_hole=None):
        rings = sorted(rings, key=lambda rh: (rh[1], rh[0][0, 0], rh[0][0, 1]))
        for part, (r, h) in enumerate(rings):
            flag = h if force_hole is None else force_hole
            for vi, (x, y) in enumerate(r):
                rows.append(
                    (fid_a, fid_b, part, flag, vi, round(float(x), 6), round(float(y), 6))
                )

    for fa, (ax0, ay0, ax1, ay1, hole) in specs_a.items():
        a_box = (ax0, ay0, ax1, ay1)
        overlapping = [
            (fb, bb) for fb, bb in specs_b.items() if bbox_overlap(a_box, bb)
        ]
        if op == "diff":
            bs = [bb for _, bb in overlapping]
            shell_rings = region_rings(
                [a_box] + bs, lambda f: f[0] and not any(f[1:])
            )
            hole_rings = []
            if hole:
                hole_rings = [
                    (r, True)
                    for r, h in region_rings(
                        [hole] + bs, lambda f: f[0] and not any(f[1:])
                    )
                    if not h
                ]
            emit(fa, None, shell_rings + hole_rings)
            continue
        for fb, bb in overlapping:
            if op == "int":
                emit(fa, fb, region_rings([a_box, bb], lambda f: f[0] and f[1]))
            else:
                emit(fa, fb, region_rings([a_box, bb], lambda f: f[0] or f[1]))
            if hole and bbox_overlap(hole, bb):
                if op == "int":
                    hr = region_rings([hole, bb], lambda f: f[0] and f[1])
                else:
                    hr = region_rings([hole, bb], lambda f: f[0] and not f[1])
                emit(fa, fb, [(r, h) for r, h in hr if not h], force_hole=True)

    vals = ", ".join(
        f"({fa}, {('NULL' if fb is None else fb)}, {part}, {str(h).upper()}, {vi}, {x!r}, {y!r})"
        for fa, fb, part, h, vi, x, y in rows
    )
    return (
        f"SELECT CAST(fid_a AS BIGINT) AS fid_a, CAST(fid_b AS BIGINT) AS fid_b, "
        f"CAST(part AS INT) AS part, is_hole, CAST(vi AS INT) AS vi, "
        f"CAST(x AS DOUBLE) AS x, CAST(y AS DOUBLE) AS y "
        f"FROM (VALUES {vals}) t({_GEOM_COLS})"
    )


ORACLE_SQL["intersect_geom"] = _geom_oracle_sql("int")
ORACLE_SQL["union_geom"] = _geom_oracle_sql("union")
ORACLE_SQL["erase_geom"] = _geom_oracle_sql("diff")


# ------------------------------------------------------- polygonize

# merged fixture: both line layers form one richly-crossing arrangement
POLY_LINE_SPECS = vectors.LINE_SPECS_1 + [
    (i + len(vectors.LINE_SPECS_1), x1, y1, x2, y2)
    for i, x1, y1, x2, y2 in vectors.LINE_SPECS_2
]


def q_polygonize(spark, sf_dir):
    from whitebox_tools_spark.operators.polygonize import polygonize

    lines = local_df(spark, vectors.line_layer_rows(POLY_LINE_SPECS))
    return polygonize(lines).select(
        "fid", "vi", F.round("x", 6).alias("x"), F.round("y", 6).alias("y")
    )


def _polygonize_oracle_rows():
    """Independent single-threaded polygonize: brute-force O(n^2) pairwise
    splits + visited-set max-angle ring walk (the reference's own tracing
    style, polygonize.rs:180-1100), vs the engine's grid-join / CC /
    per-face walk. Same rotation rule, different construction."""

    def inter(p, q):
        (x1, y1, x2, y2), (x3, y3, x4, y4) = p, q
        rx, ry = x2 - x1, y2 - y1
        sx, sy = x4 - x3, y4 - y3
        den = rx * sy - ry * sx
        if den == 0.0:
            return None
        t = ((x3 - x1) * sy - (y3 - y1) * sx) / den
        u = ((x3 - x1) * ry - (y3 - y1) * rx) / den
        if 0.0 <= t <= 1.0 and 0.0 <= u <= 1.0:
            return t
        return None

    segs = [(x1, y1, x2, y2) for _, x1, y1, x2, y2 in POLY_LINE_SPECS]
    pieces = set()
    for i, s in enumerate(segs):
        ts = {0.0, 1.0}
        for k, o in enumerate(segs):
            if k == i:
                continue
            t = inter(s, o)
            if t is not None:
                ts.add(t)
        x1, y1, x2, y2 = s
        pts = [
            (round(x1 + t * (x2 - x1), 6), round(y1 + t * (y2 - y1), 6))
            for t in sorted(ts)
        ]
        for a, b in zip(pts, pts[1:]):
            if a != b:
                pieces.add((min(a, b), max(a, b)))

    # 2-core peel
    while True:
        deg = {}
        for a, b in pieces:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        drop = {p for p, d in deg.items() if d <= 1}
        if not drop:
            break
        pieces = {(a, b) for a, b in pieces if a not in drop and b not in drop}

    import math

    # half-edges + DCEL rotation successor (clockwise-next from reverse)
    out_edges = {}
    half = []
    for a, b in sorted(pieces):
        half.append((a, b))
        half.append((b, a))
    for u, v in half:
        out_edges.setdefault(u, []).append((u, v))
    nxt = {}
    for u, v in half:
        rangle = math.atan2(u[1] - v[1], u[0] - v[0])
        cands = [
            (1 if math.atan2(w[1] - v[1], w[0] - v[0]) < rangle else 0,
             math.atan2(w[1] - v[1], w[0] - v[0]), (v, w))
            for (_, w) in out_edges[v]
            if (v, w) != (v, u)
        ]
        nxt[(u, v)] = max(cands)[2] if cands else (v, u)

    rings, seen = [], set()
    for h0 in half:
        if h0 in seen:
            continue
        ring, h = [], h0
        while h not in seen:
            seen.add(h)
            ring.append(h[0])
            h = nxt[h]
        n = len(ring)
        a2 = sum(
            ring[i][0] * ring[(i + 1) % n][1] - ring[(i + 1) % n][0] * ring[i][1]
            for i in range(n)
        )
        if a2 <= 0.0 or n < 3:
            continue
        rot = min(range(n), key=lambda i: ring[i])
        rings.append(ring[rot:] + ring[:rot])

    rings.sort(key=lambda r: (r[0][0], r[0][1], len(r), r))
    rows = []
    for fid, r in enumerate(rings, start=1):
        for vi, (x, y) in enumerate(r):
            rows.append((fid, vi, x, y))
    return rows


def _polygonize_sql() -> str:
    vals = ", ".join(
        f"({fid}, {vi}, {x!r}, {y!r})" for fid, vi, x, y in _polygonize_oracle_rows()
    )
    return (
        "SELECT CAST(fid AS INT) AS fid, CAST(vi AS INT) AS vi, "
        "CAST(x AS DOUBLE) AS x, CAST(y AS DOUBLE) AS y "
        f"FROM (VALUES {vals}) t(fid, vi, x, y)"
    )


QUERIES["polygonize"] = q_polygonize
ORACLE_SQL["polygonize"] = _polygonize_sql()


# ------------------------------------------------- dissolve merged boundary


def q_dissolve_geom(spark, sf_dir):
    layer = local_df(spark, vectors.touch_layer_rows())
    return vo.dissolve_geometry(layer, "val").select(
        "key", "x1", "y1", "x2", "y2"
    )


QUERIES["dissolve_geom"] = q_dissolve_geom


def _dissolve_geom_oracle_sql() -> str:
    """Expected surviving edges via an INDEPENDENT edge-multiset
    cancellation (collections.Counter over the fixture rings, no Spark
    involved), inlined as VALUES."""
    from collections import Counter

    per_key: dict[int, Counter] = {}
    for fid, xmin, ymin, xmax, ymax, val in vectors.TOUCH_RECT_SPECS:
        ring = vectors.rect_ring(xmin, ymin, xmax, ymax)
        c = per_key.setdefault(val, Counter())
        for i in range(len(ring) - 1):
            a = (float(ring[i, 0]), float(ring[i, 1]))
            b = (float(ring[i + 1, 0]), float(ring[i + 1, 1]))
            c[(a, b) if a <= b else (b, a)] += 1
    rows = []
    for val, c in per_key.items():
        for (a, b), n in c.items():
            if n == 1:
                rows.append((val, a[0], a[1], b[0], b[1]))
    vals = ", ".join(
        f"({k}, {x1!r}, {y1!r}, {x2!r}, {y2!r})" for k, x1, y1, x2, y2 in sorted(rows)
    )
    return (
        "SELECT CAST(key AS BIGINT) AS key, CAST(x1 AS DOUBLE) AS x1, "
        "CAST(y1 AS DOUBLE) AS y1, CAST(x2 AS DOUBLE) AS x2, CAST(y2 AS DOUBLE) AS y2 "
        f"FROM (VALUES {vals}) AS t(key, x1, y1, x2, y2)"
    )


ORACLE_SQL["dissolve_geom"] = _dissolve_geom_oracle_sql()
