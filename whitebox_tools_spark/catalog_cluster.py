"""Query catalog: iterative clustering / stream ordering / line-of-sight
(SURVEY.md §2.7 KMeansClustering, §2.8 StrahlerStreamOrder + Viewshed).

Oracle strategy: these are bounded iterative algorithms, so the DuckDB
oracles *unroll* the iterations as generated CTE chains with exactly the
same float arithmetic and tie-breaks as the Spark loop:

- kmeans: Lloyd's, KM_ITERS unrolled rounds; centers rounded to 6 dp on
  both sides each round so partition-order float accumulation can't
  perturb assignments (determinism is an engine feature, not a test hack).
- strahler: the frontier fixpoint unrolled ST_ROUNDS times — at a
  fixpoint extra rounds are no-ops, so capping both sides at the same
  round count gives bit-equal results whether or not it converged.
- viewshed: non-iterative per (viewpoint, cell) — closed-form SQL over a
  step table, sharing the engine's floor(x+0.5) path-sampling rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whitebox_tools_spark import derive
from whitebox_tools_spark.catalog_grid import GRID, _PTS_CTE
from whitebox_tools_spark.catalog_iter import _Z_CTE, _d8_dir_sql
from whitebox_tools_spark.operators import hydro, trend
from whitebox_tools_spark.operators.cluster import (
    kmeans,
    strahler_order,
    viewshed,
    viewshed_sweep,
)
from whitebox_tools_spark.sources.tables import documents

TILE_SIZE = 8
KM_K = 4
KM_ITERS = 20
KM_FEATS = ("x", "y", "z")
ST_THRESHOLD = 2.0
ST_ROUNDS = 64
VIEWPOINTS = [(3, 3), (10, 10), (15, 4)]
STATION_H = 2.0


def _geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    return derive.with_geometry(documents(spark, sf_dir), "doc_id")


def _z_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whitebox_tools_spark import catalog_cache as _cc
    return _cc.z_last(spark, sf_dir)


def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    assigned, _ = kmeans(
        _geo(spark, sf_dir), list(KM_FEATS), k=KM_K, record="doc_id",
        max_iter=KM_ITERS,
    )
    return assigned.select("doc_id", F.col("cluster").cast("int").alias("cluster"))


def q_strahler(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whitebox_tools_spark import catalog_cache as _cc

    accum = _cc.accum(spark, sf_dir, TILE_SIZE)
    streams = trend.extract_streams(accum, ST_THRESHOLD)
    dirs = _cc.dirs(spark, sf_dir, TILE_SIZE)
    return strahler_order(streams, dirs, GRID, max_rounds=ST_ROUNDS).select(
        F.col("row").alias("cell_row"), F.col("col").alias("cell_col"), "value"
    )


def q_viewshed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return viewshed(_z_raster(spark, sf_dir), GRID, VIEWPOINTS, STATION_H).select(
        "vp",
        F.col("row").alias("cell_row"),
        F.col("col").alias("cell_col"),
        "value",
    )


def q_viewshed_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The O(N log N) azimuth-sweep variant (VERDICT r3 item 10): one
    window pass instead of the per-target ray explode. The oracle
    transcribes the sweep's exact arithmetic (IEEE division bucketing,
    running max over strictly-closer cells); parity with the sampled-ray
    engine is pinned separately by a tolerance test."""
    return viewshed_sweep(_z_raster(spark, sf_dir), GRID, VIEWPOINTS, STATION_H).select(
        "vp",
        F.col("row").alias("cell_row"),
        F.col("col").alias("cell_col"),
        "value",
    )


QUERIES = {
    "kmeans": q_kmeans,
    "strahler_order": q_strahler,
    "viewshed": q_viewshed,
    "viewshed_sweep": q_viewshed_sweep,
}

HEADLINE = ("strahler_order", "viewshed", "viewshed_sweep")


# ------------------------------------------------------------- oracle SQL


def _materialize(sql: str, names: list[str]) -> str:
    """DuckDB inlines CTEs per reference; the unrolled chains reference the
    base scans dozens of times, which re-opens the parquet each time (fd
    exhaustion) and recomputes the recursive walk. Force one evaluation."""
    for n in names:
        sql = sql.replace(f"{n} AS (", f"{n} AS MATERIALIZED (", 1)
    return sql


def _kmeans_sql() -> str:
    fs = KM_FEATS
    init = (
        f"c0 AS (SELECT row_number() OVER (ORDER BY doc_id) - 1 AS cluster, "
        + ", ".join(f"{f} AS c{f}" for f in fs)
        + f" FROM (SELECT * FROM pts ORDER BY doc_id LIMIT {KM_K}))"
    )
    blocks = [init]
    for i in range(1, KM_ITERS + 1):
        # distance: same left-assoc chain of squares as the Spark expression
        d = " + ".join(f"(p.{f} - c.c{f}) * (p.{f} - c.c{f})" for f in fs)
        upd = ", ".join(f"avg({f}) AS m{f}" for f in fs)
        keep = ", ".join(
            f"coalesce(round(u.m{f}, 6), c.c{f}) AS c{f}" for f in fs
        )
        blocks.append(
            f"a{i} AS (SELECT p.doc_id, c.cluster, {d} AS d "
            f"FROM pts p CROSS JOIN c{i-1} c)"
        )
        blocks.append(
            f"b{i} AS (SELECT doc_id, cluster FROM a{i} "
            f"QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY d, cluster) = 1)"
        )
        blocks.append(
            f"c{i} AS (SELECT c.cluster, {keep} FROM c{i-1} c LEFT JOIN "
            f"(SELECT b.cluster, {upd} FROM b{i} b JOIN pts USING (doc_id) "
            f"GROUP BY b.cluster) u ON u.cluster = c.cluster)"
        )
    sql = (
        f"WITH {_PTS_CTE},\n" + ",\n".join(blocks)
        + f"\nSELECT doc_id, CAST(cluster AS INTEGER) AS cluster FROM b{KM_ITERS}"
    )
    names = ["pts", "c0"]
    for i in range(1, KM_ITERS + 1):
        names += [f"a{i}", f"b{i}", f"c{i}"]
    return _materialize(sql, names)


def _strahler_sql() -> str:
    dys = ",".join(str(v) for v in hydro.D8_DY)
    dxs = ",".join(str(v) for v in hydro.D8_DX)
    head = f"""WITH RECURSIVE {_PTS_CTE},
{_Z_CTE},
{_d8_dir_sql().lstrip()},
nodes AS (SELECT cell_row, cell_col, cell_row * {GRID.cols} + cell_col AS id, dir FROM dirs),
down AS (SELECT id AS a,
                (cell_row + [{dys}][dir + 1]) * {GRID.cols}
                  + (cell_col + [{dxs}][dir + 1]) AS b
         FROM nodes WHERE dir >= 0
           AND cell_row + [{dys}][dir + 1] BETWEEN 0 AND {GRID.rows - 1}
           AND cell_col + [{dxs}][dir + 1] BETWEEN 0 AND {GRID.cols - 1}),
walk AS (SELECT id AS src, id AS cur FROM nodes
         UNION ALL
         SELECT w.src, d.b FROM walk w JOIN down d ON d.a = w.cur),
accum AS (SELECT cur AS id, CAST(count(*) AS DOUBLE) AS value FROM walk GROUP BY cur),
snodes AS (SELECT n.id, n.cell_row, n.cell_col, n.dir FROM nodes n
           JOIN accum a ON a.id = n.id WHERE a.value > {ST_THRESHOLD!r}),
sedges AS (SELECT d.a, d.b FROM down d
           JOIN snodes sa ON sa.id = d.a JOIN snodes sb ON sb.id = d.b),
ord0 AS (SELECT id, 1 AS ord FROM snodes)"""
    blocks = []
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
            f"ord{i} AS (SELECT s.id, coalesce(CASE WHEN m.cnt >= 2 THEN m.mx + 1 "
            f"ELSE m.mx END, 1) AS ord FROM snodes s LEFT JOIN m{i} m ON m.b = s.id)"
        )
    sql = (
        head + ",\n" + ",\n".join(blocks)
        + f"""
SELECT s.cell_row, s.cell_col, CAST(o.ord AS DOUBLE) AS value
FROM snodes s JOIN ord{ST_ROUNDS} o ON o.id = s.id"""
    )
    names = ["pts", "r", "nodes", "down", "accum", "snodes", "sedges"]
    for i in range(1, ST_ROUNDS + 1):
        names += [f"agg{i}", f"m{i}", f"ord{i}"]
    return _materialize(sql, names)


def _viewshed_sql() -> str:
    vps = ", ".join(f"({i}, {r}, {c})" for i, (r, c) in enumerate(VIEWPOINTS))
    max_n = max(GRID.rows, GRID.cols)
    return f"""WITH {_PTS_CTE},
{_Z_CTE},
vps AS (SELECT * FROM (VALUES {vps}) v(vp, vr, vc)),
vpz AS (SELECT v.vp, v.vr, v.vc, r.value + {STATION_H!r} AS z0
        FROM vps v JOIN r ON r.cell_row = v.vr AND r.cell_col = v.vc),
tgt AS (SELECT w.vp, w.vr, w.vc, w.z0, c.cell_row, c.cell_col, c.value AS tz,
               greatest(abs(c.cell_row - w.vr), abs(c.cell_col - w.vc)) AS n
        FROM vpz w CROSS JOIN r c),
stp AS (SELECT t.*, CAST(g.i AS DOUBLE) / t.n AS tt
        FROM tgt t, range(1, {max_n}) g(i) WHERE g.i < t.n),
pth AS (SELECT vp, cell_row, cell_col, n, z0, tt,
               CAST(floor(vr + (cell_row - vr) * tt + 0.5) AS BIGINT) AS ri,
               CAST(floor(vc + (cell_col - vc) * tt + 0.5) AS BIGINT) AS ci
        FROM stp),
ang AS (SELECT p.vp, p.cell_row, p.cell_col,
               max((pz.value - p.z0) / (p.n * p.tt)) AS mx
        FROM pth p JOIN r pz ON pz.cell_row = p.ri AND pz.cell_col = p.ci
        GROUP BY p.vp, p.cell_row, p.cell_col)
SELECT t.vp, t.cell_row, t.cell_col,
       CASE WHEN a.mx > (t.tz - t.z0) / greatest(t.n, 1) + 1e-12
            THEN CAST(0.0 AS DOUBLE) ELSE CAST(1.0 AS DOUBLE) END AS value
FROM tgt t LEFT JOIN ang a
  ON a.vp = t.vp AND a.cell_row = t.cell_row AND a.cell_col = t.cell_col"""


def _viewshed_sql_mat() -> str:
    return _materialize(_viewshed_sql(), ["pts", "r", "tgt"])


def _viewshed_sweep_sql() -> str:
    """Exact transcription of operators.cluster.viewshed_sweep: same
    perimeter bucketing (IEEE divisions only — no atan2, whose libm
    variants differ by ULPs across engines), same blocker interval
    (halfwidth 0.5/n in off units, exploded over covered buckets), same
    running-max window over strictly closer cells (RANGE ... 1 PRECEDING
    on integer n)."""
    vps = ", ".join(f"({i}, {r}, {c})" for i, (r, c) in enumerate(VIEWPOINTS))
    nb = 2 * max(GRID.rows, GRID.cols)

    def b(o: str) -> str:  # clamped in-side bucket index of an off value
        return (
            f"greatest(0, least(CAST(floor((({o}) + 1.0) / 2.0 "
            f"* CAST({nb} AS DOUBLE)) AS BIGINT), {nb - 1}))"
        )

    return f"""WITH {_PTS_CTE},
{_Z_CTE},
vps AS (SELECT * FROM (VALUES {vps}) v(vp, vr, vc)),
vpz AS (SELECT v.vp, v.vr, v.vc, r.value + {STATION_H!r} AS z0
        FROM vps v JOIN r ON r.cell_row = v.vr AND r.cell_col = v.vc),
tgt AS (SELECT w.vp, c.cell_row, c.cell_col, c.value AS tz, w.z0,
               c.cell_row - w.vr AS dr, c.cell_col - w.vc AS dc,
               greatest(abs(c.cell_row - w.vr), abs(c.cell_col - w.vc)) AS n
        FROM vpz w CROSS JOIN r c),
base AS (SELECT vp, cell_row, cell_col, n,
                CASE WHEN abs(dc) >= abs(dr) AND dc > 0 THEN 0
                     WHEN abs(dc) >= abs(dr) THEN 1
                     WHEN dr > 0 THEN 2 ELSE 3 END AS side,
                CASE WHEN abs(dc) >= abs(dr)
                     THEN CAST(dr AS DOUBLE) / CAST(abs(dc) AS DOUBLE)
                     ELSE CAST(dc AS DOUBLE) / CAST(abs(dr) AS DOUBLE) END AS off,
                (tz - z0) / n AS ang
         FROM tgt WHERE n >= 1),
u AS (
  SELECT vp, n, ang, side * {nb} + g.i AS bucket,
         CAST(NULL AS BIGINT) AS cell_row, CAST(NULL AS BIGINT) AS cell_col,
         1 AS is_b
  FROM base, range(0, {nb}) g(i)
  WHERE g.i >= {b("off - 0.5 / CAST(n AS DOUBLE)")}
    AND g.i <= {b("off + 0.5 / CAST(n AS DOUBLE)")}
  UNION ALL
  SELECT vp, n, ang, side * {nb} + {b("off")} AS bucket,
         cell_row, cell_col, 0 AS is_b
  FROM base),
mxs AS (SELECT vp, cell_row, cell_col, ang, is_b,
               max(CASE WHEN is_b = 1 THEN ang END)
                 OVER (PARTITION BY vp, bucket ORDER BY n
                       RANGE BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING) AS mx
        FROM u)
SELECT vp, cell_row, cell_col,
       CASE WHEN mx > ang + 1e-12 THEN CAST(0.0 AS DOUBLE)
            ELSE CAST(1.0 AS DOUBLE) END AS value
FROM mxs WHERE is_b = 0
UNION ALL
SELECT vp, cell_row, cell_col, CAST(1.0 AS DOUBLE) AS value
FROM tgt WHERE n = 0"""


ORACLE_SQL = {
    "kmeans": _kmeans_sql(),
    "strahler_order": _strahler_sql(),
    "viewshed": _viewshed_sql_mat(),
    "viewshed_sweep": _materialize(_viewshed_sweep_sql(), ["pts", "r", "tgt"]),
}
