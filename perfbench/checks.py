"""Independent output checks, run outside the timed region.

Each check recomputes a workload's outputs without the engine (DuckDB
SQL or numpy) and returns the number of rows that differ from what the
engine wrote. DuckDB also reads the engine's parquet outputs itself.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd

from whitebox_tools_spark import derive
from whitebox_tools_spark.sources import vectors

TILE = 250.0


def connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute("SET threads = 4")
    return con


def _written(path: str, cols: str) -> str:
    """Query over a parquet dataset the engine wrote."""
    return f"SELECT {cols} FROM read_parquet('{path}/*.parquet')"


def _sym_diff(con, a: str, b: str) -> int:
    """Rows in exactly one of two queries (multiset difference both ways)."""
    return con.execute(
        f"SELECT (SELECT count(*) FROM (({a}) EXCEPT ALL ({b}))) "
        f"+ (SELECT count(*) FROM (({b}) EXCEPT ALL ({a})))"
    ).fetchone()[0]


def _far(con, ref: pd.DataFrame, got: str, keys: list[str], vals: list[str],
         rel: float = 1e-9) -> int:
    """Rows of ``ref`` or of query ``got`` without a partner under
    ``keys``, duplicated keys in ``got``, and pairs whose ``vals`` differ
    by more than ``rel`` (relative; absolute below 1). Float results of
    the engine and of the reference differ in summation order, so they
    are compared with a tolerance, not exactly."""
    con.register("ref", ref)
    on = " AND ".join(f"r.{k} = g.{k}" for k in keys)
    far = " OR ".join(
        f"coalesce(abs(r.{v} - g.{v}) > {rel!r} * greatest(1.0, abs(r.{v})), "
        f"(r.{v} IS NULL) != (g.{v} IS NULL))" for v in vals)
    k = ", ".join(keys)
    return con.execute(
        f"SELECT (SELECT count(*) FROM ref r FULL OUTER JOIN ({got}) g ON {on} "
        f"        WHERE r.{keys[0]} IS NULL OR g.{keys[0]} IS NULL OR {far})"
        f" + (SELECT count(*) - count(DISTINCT ({k})) FROM ({got}))"
    ).fetchone()[0]


# ------------------------------------------------------------ docs_overlay


def docs_overlay(con, docs: str, tagged: str, counts: str) -> int:
    """Tile and polygon of every doc from ``derive.sql_coord`` and the
    layer's SQL CASE; the LidarTile grid and population filter written out
    in SQL. Compares tagged docs and per-(tile, poly_fid) counts."""
    x, y = derive.sql_coord("doc_id", "x"), derive.sql_coord("doc_id", "y")
    con.execute(f"CREATE OR REPLACE TEMP VIEW g AS SELECT doc_id, {x} AS x, {y} AS y "
                f"FROM read_parquet('{docs}/*.parquet')")
    mnx, mxx, mny, _ = con.execute("SELECT min(x), max(x), min(y), max(y) FROM g").fetchone()
    sx, sy = math.floor(mnx / TILE), math.floor(mny / TILE)
    cols = abs(math.ceil(mxx / TILE) - sx)
    con.execute(f"""
        CREATE OR REPLACE TEMP VIEW want AS
        WITH t AS (
          SELECT doc_id, x, y,
                 CAST(floor((y - 0.0) / {TILE} - {sy}) AS BIGINT) * {cols}
                 + CAST(floor((x - 0.0) / {TILE} - {sx}) AS BIGINT) AS tile
          FROM g)
        SELECT doc_id, tile, {vectors.rect_layer_fid_case()} AS poly_fid FROM t
        WHERE tile IN (SELECT tile FROM t GROUP BY tile HAVING count(*) > 2)""")
    bad = _sym_diff(con, "SELECT doc_id, tile, poly_fid FROM want",
                    _written(tagged, "doc_id, tile, poly_fid"))
    return bad + _sym_diff(
        con,
        "SELECT tile, poly_fid, count(*) AS n_docs FROM want GROUP BY ALL",
        _written(counts, "tile, poly_fid, n_docs"),
    )


# ---------------------------------------------------------- polygon_raster


def _edges(layer) -> pd.DataFrame:
    """One row per ring edge, in layer order (rec, ring)."""
    rows = []
    for rec, feat in enumerate(layer):
        for k, (ring, hole) in enumerate(zip(feat.rings, feat.holes)):
            for (x0, y0), (x1, y1) in zip(ring[:-1], ring[1:]):
                rows.append((rec, feat.fid, k, hole, float(feat.attrs["zone"]),
                             x0, y0, x1, y1, min(y0, y1), max(y0, y1)))
    return pd.DataFrame(rows, columns=["rec", "fid", "ring", "is_hole", "zone",
                                       "x0", "y0", "x1", "y1", "ylo", "yhi"])


def _odd_rings(pts: str) -> str:
    """(id, rec, ring, is_hole, fid, zone) for every ring whose winding
    number about point (x, y) is odd: the reference's is_left crossing rule, boundary
    points outside. Only edges whose y-span holds the point can count."""
    il = "((e.x1 - e.x0) * (p.y - e.y0) - (p.x - e.x0) * (e.y1 - e.y0))"
    return f"""
      SELECT p.id, e.rec, e.ring, any_value(e.is_hole) AS is_hole,
             any_value(e.fid) AS fid, any_value(e.zone) AS zone
      FROM ({pts}) p JOIN edges e ON p.y >= e.ylo AND p.y < e.yhi
      GROUP BY p.id, e.rec, e.ring
      HAVING sum(CASE WHEN e.y0 <= p.y AND e.y1 > p.y AND {il} > 0 THEN 1
                      WHEN e.y0 > p.y AND e.y1 <= p.y AND {il} < 0 THEN -1
                      ELSE 0 END) % 2 != 0"""


def _paint(pts: str) -> str:
    """(id, zone) of the last record whose shells hold the point and whose
    own holes do not."""
    return f"""
      SELECT id, arg_max(zone, rec) AS zone FROM (
        SELECT id, rec, any_value(zone) AS zone FROM ({_odd_rings(pts)})
        GROUP BY id, rec HAVING bool_or(NOT is_hole) AND NOT bool_or(is_hole))
      GROUP BY id"""


def polygon_raster(con, layer, docs: str, out: dict, cfg, dem: np.ndarray) -> int:
    """Tag, paint and clip from a SQL edge table; slope of the expected
    clip and zonal statistics of that slope by the expected paint, in
    numpy; the GeoTIFF read-back against the slope raster the engine
    wrote."""
    con.register("edges", _edges(layer))
    x, y = derive.sql_coord("doc_id", "x"), derive.sql_coord("doc_id", "y")
    pts = f"SELECT doc_id AS id, {x} AS x, {y} AS y FROM read_parquet('{docs}/*.parquet')"
    # last-wins over (rec, ring): a hole hit clears the tag
    tag = f"""
      SELECT d.id AS doc_id, CASE WHEN h.is_hole THEN NULL ELSE h.fid END AS poly_fid
      FROM ({pts}) d LEFT JOIN (
        SELECT id, arg_max(is_hole, rec * 1000 + ring) AS is_hole,
               arg_max(fid, rec * 1000 + ring) AS fid
        FROM ({_odd_rings(pts)}) GROUP BY id) h ON d.id = h.id"""
    bad = _sym_diff(con, tag, _written(out["tag"], "doc_id, poly_fid"))

    n = cfg.rows * cfg.cols
    cells = (f"SELECT i AS id, i // {cfg.cols} AS row, i % {cfg.cols} AS col FROM range({n}) t(i)")
    # polygons_to_raster centres: west + (col + 0.5) * res
    paint_pts = (f"SELECT id, {cfg.west!r} + (CAST(col AS DOUBLE) + 0.5) * {cfg.res_x!r} AS x, "
                 f"{cfg.north!r} - (CAST(row AS DOUBLE) + 0.5) * {cfg.res_y!r} AS y FROM ({cells})")
    paint = (f"SELECT c.row, c.col, p.zone AS value FROM ({cells}) c "
             f"JOIN ({_paint(paint_pts)}) p ON c.id = p.id")
    bad += _sym_diff(con, paint, _written(out["paint"], "row, col, value"))

    # clip_raster_to_polygon centres: west + res / 2 + col * res
    x0, y0 = cfg.west + cfg.res_x / 2.0, cfg.north - cfg.res_y / 2.0
    clip_pts = (f"SELECT id, {x0!r} + CAST(col AS DOUBLE) * {cfg.res_x!r} AS x, "
                f"{y0!r} - CAST(row AS DOUBLE) * {cfg.res_y!r} AS y FROM ({cells})")
    con.register("dem", pd.DataFrame({"id": np.arange(n), "value": dem.ravel()}))
    clip = (f"SELECT c.row, c.col, d.value FROM ({cells}) c JOIN dem d ON c.id = d.id "
            f"WHERE c.id IN (SELECT id FROM ({_paint(clip_pts)}))")
    bad += _sym_diff(con, clip, _written(out["clip"], "row, col, value"))

    # slope of the clipped DEM and its zonal statistics, from numpy
    mask = np.zeros(dem.shape, dtype=bool)
    k = con.execute(f"SELECT row, col FROM ({clip})").fetchnumpy()
    mask[k["row"], k["col"]] = True
    zone = np.full(dem.shape, np.nan)
    pz = con.execute(paint).fetchnumpy()
    zone[pz["row"], pz["col"]] = pz["value"]
    slope = slope_reference(np.where(mask, dem, np.nan), cfg.res_x)
    r, c = np.nonzero(mask)
    bad += _far(con, pd.DataFrame({"row": r, "col": c, "value": slope[r, c]}),
                _written(out["slope"], "row, col, value"), ["row", "col"], ["value"])
    bad += _far(con, zonal_reference(slope, zone), _written(out["zonal"], "*"), ["zone"],
                ["n", "total", "mean", "min_v", "max_v", "range_v", "stddev", "median"])
    # GeoTIFF read-back equals the slope raster stored as float32
    bad += _sym_diff(
        con,
        _written(out["slope"], "row, col, CAST(CAST(value AS FLOAT) AS DOUBLE) AS v"),
        _written(out["readback"], "row, col, value AS v") + f" WHERE value != {cfg.nodata!r}",
    )
    return bad


def slope_reference(z: np.ndarray, res: float) -> np.ndarray:
    """Horn (1981) slope in degrees of every non-NaN cell of ``z``; a
    neighbour that is NaN or off the grid takes the centre's height. NaN
    where ``z`` is NaN."""
    rows, cols = z.shape
    pad = np.pad(z, 1, constant_values=np.nan)

    def nb(dr: int, dc: int) -> np.ndarray:
        v = pad[1 + dr:1 + dr + rows, 1 + dc:1 + dc + cols]
        return np.where(np.isnan(v), z, v)

    nw, n, ne = nb(-1, -1), nb(-1, 0), nb(-1, 1)
    w, e = nb(0, -1), nb(0, 1)
    sw, s, se = nb(1, -1), nb(1, 0), nb(1, 1)
    fx = ((ne + 2.0 * e + se) - (nw + 2.0 * w + sw)) / (8.0 * res)
    fy = ((nw + 2.0 * n + ne) - (sw + 2.0 * s + se)) / (8.0 * res)
    return np.degrees(np.arctan(np.sqrt(fx * fx + fy * fy)))


def zonal_reference(data: np.ndarray, zone: np.ndarray) -> pd.DataFrame:
    """Per-zone statistics of the cells where both rasters have a value:
    count, sum, mean, min, max, range, sample stddev and median (the last
    two 0 for a one-cell zone)."""
    both = ~np.isnan(data) & ~np.isnan(zone)
    df = pd.DataFrame({"zone": np.round(zone[both]).astype(np.int64), "v": data[both]})
    g = df.groupby("zone")["v"]
    out = pd.DataFrame({"n": g.size(), "total": g.sum(), "mean": g.mean(), "min_v": g.min(),
                        "max_v": g.max(), "stddev": g.std(ddof=1), "median": g.median()})
    out["range_v"] = out["max_v"] - out["min_v"]
    single = out["n"] <= 1
    out.loc[single, ["stddev", "median"]] = 0.0
    return out.reset_index()


# -------------------------------------------------------------- neighbours


def neighbours(con, pts: pd.DataFrame, qry: pd.DataFrame, sample: np.ndarray,
               radius: float, k: int, out: dict) -> int:
    """Brute force over every point for a fixed sample of queries: all
    pairs within ``radius``, and kNN under the engine's shell-stop rule
    (candidates = points in the first Chebyshev cell shell, at least the
    3x3 block, whose cumulative count reaches k; ranked by
    (d^2, x_p, y_p))."""
    con.register("p", pts)
    con.register("q", qry[qry["id"].isin(sample)])
    inv = 1.0 / (radius * 0.5)
    d2 = "((q.x - p.x) * (q.x - p.x) + (q.y - p.y) * (q.y - p.y))"
    ids = ",".join(str(int(v)) for v in sample)
    bad = _sym_diff(
        con,
        f"SELECT q.id AS qid, p.id AS pid FROM q, p WHERE {d2} <= {radius * radius!r}",
        _written(out["radius"], "qid, id_p AS pid") + f" WHERE qid IN ({ids})",
    )
    knn = f"""
      WITH c AS (
        SELECT q.id AS qid, p.id AS pid, p.x AS px, p.y AS py, {d2} AS d2,
               greatest(abs(floor(p.x * {inv!r}) - floor(q.x * {inv!r})),
                        abs(floor(p.y * {inv!r}) - floor(q.y * {inv!r}))) AS shell
        FROM q, p),
      s AS (SELECT qid, shell, sum(count(*)) OVER (PARTITION BY qid ORDER BY shell) AS cum
            FROM c GROUP BY qid, shell),
      stop AS (SELECT qid, greatest(1, min(shell)) AS stop FROM s WHERE cum >= {k} GROUP BY qid)
      SELECT qid, pid, rn FROM (
        SELECT c.qid, c.pid, row_number() OVER (PARTITION BY c.qid ORDER BY d2, px, py) AS rn
        FROM c JOIN stop USING (qid) WHERE c.shell <= stop.stop)
      WHERE rn <= {k}"""
    bad += _sym_diff(
        con, knn,
        _written(out["knn"], "qid, id_p AS pid, knn_rank AS rn") + f" WHERE qid IN ({ids})",
    )
    return bad


def idw(con, pts: pd.DataFrame, cfg, radius: float, got: str) -> int:
    """IDW (weight 2, one point needed) of every grid cell by brute force.
    A cell takes z of a point at distance 0, else the inverse-square
    distance mean of z over the points within ``radius``. A cell with no
    point within ``radius`` takes z of its nearest point under the kNN
    shell-stop rule (k = 1, see ``neighbours``). ``pts`` has (x, y, z)."""
    con.register("p", pts)
    inv = 1.0 / (radius * 0.5)
    d2 = "((c.x - p.x) * (c.x - p.x) + (c.y - p.y) * (c.y - p.y))"
    con.execute(f"""
      CREATE OR REPLACE TEMP TABLE c AS
      SELECT i AS cell,
             {cfg.west!r} + (CAST(i % {cfg.cols} AS DOUBLE) + 0.5) * {cfg.res_x!r} AS x,
             {cfg.north!r} - (CAST(i // {cfg.cols} AS DOUBLE) + 0.5) * {cfg.res_y!r} AS y
      FROM range({cfg.rows * cfg.cols}) t(i)""")
    # points in square buckets of side radius: a point within radius of a
    # centre lies in the centre's bucket or one of its 8 neighbours
    con.execute(f"""
      CREATE OR REPLACE TEMP TABLE direct AS
      WITH pb AS (SELECT x, y, z, CAST(floor(x / {radius!r}) AS BIGINT) AS bi,
                         CAST(floor(y / {radius!r}) AS BIGINT) AS bj FROM p),
      cb AS (SELECT cell, x, y, CAST(floor(x / {radius!r}) AS BIGINT) + di AS bi,
                    CAST(floor(y / {radius!r}) AS BIGINT) + dj AS bj
             FROM c, range(-1, 2) a(di), range(-1, 2) b(dj)),
      near AS (SELECT c.cell, {d2} AS d2, p.z FROM cb c JOIN pb p USING (bi, bj))
      SELECT cell, coalesce(min(z) FILTER (WHERE d2 = 0),
                            sum(z / d2) FILTER (WHERE d2 > 0)
                            / sum(1.0 / d2) FILTER (WHERE d2 > 0)) AS value
      FROM near WHERE d2 <= {radius * radius!r} GROUP BY cell""")
    ref = con.execute(f"""
      WITH far AS (
        SELECT c.cell, p.x AS px, p.y AS py, p.z, {d2} AS d2,
               greatest(abs(floor(p.x * {inv!r}) - floor(c.x * {inv!r})),
                        abs(floor(p.y * {inv!r}) - floor(c.y * {inv!r}))) AS shell
        FROM (SELECT * FROM c ANTI JOIN direct USING (cell)) c, p),
      s AS (SELECT cell, shell, sum(count(*)) OVER (PARTITION BY cell ORDER BY shell) AS cum
            FROM far GROUP BY cell, shell),
      stop AS (SELECT cell, greatest(1, min(shell)) AS stop FROM s WHERE cum >= 1 GROUP BY cell),
      nn AS (
        SELECT cell, z AS value FROM (
          SELECT far.cell, far.z,
                 row_number() OVER (PARTITION BY far.cell ORDER BY d2, px, py) AS rn
          FROM far JOIN stop USING (cell) WHERE far.shell <= stop.stop)
        WHERE rn = 1)
      SELECT cell, value FROM direct UNION ALL SELECT cell, value FROM nn""").df()
    return _far(con, ref, got, ["cell"], ["value"])


# ----------------------------------------------------------- flow_fixpoint

D8_DX = (1, 1, 1, 0, -1, -1, -1, 0)
D8_DY = (-1, 0, 1, 1, 1, 0, -1, -1)


def d8_dirs(dem: np.ndarray, res: float) -> np.ndarray:
    """Steepest strictly positive drop over the 8 neighbours in the
    reference's order, first maximum wins; -1 for pits."""
    rows, cols = dem.shape
    diag = math.sqrt(2 * res * res)
    lengths = [diag, res, diag, res, diag, res, diag, res]
    best = np.full(dem.shape, -np.inf)
    out = np.full(dem.shape, -1, dtype=np.int64)
    pad = np.pad(dem, 1, constant_values=np.nan)
    for i, (dx, dy) in enumerate(zip(D8_DX, D8_DY)):
        nb = pad[1 + dy:1 + dy + rows, 1 + dx:1 + dx + cols]
        with np.errstate(invalid="ignore"):
            s = (dem - nb) / lengths[i]
        upd = ~np.isnan(nb) & (s > best) & (s > 0.0)
        best = np.where(upd, s, best)
        out = np.where(upd, i, out)
    return out


def d8_reference(dem: np.ndarray, res: float, outlets: np.ndarray):
    """(accumulation, watershed labels, longest flow path in cells).
    Accumulation counts every cell whose path passes through a cell,
    itself included; labels are the first outlet id downstream (0 =
    none). Heights fall strictly along a path, so visiting cells from
    the highest down is a topological order."""
    rows, cols = dem.shape
    d = d8_dirs(dem, res).ravel()
    r, c = np.divmod(np.arange(rows * cols), cols)
    safe = np.clip(d, 0, 7)
    nxt = np.where(d >= 0, (r + np.take(D8_DY, safe)) * cols + c + np.take(D8_DX, safe), -1)
    order = np.argsort(-dem.ravel(), kind="stable")
    acc = np.ones(rows * cols)
    depth = np.zeros(rows * cols, dtype=np.int64)
    for i in order:
        j = nxt[i]
        if j >= 0:
            acc[j] += acc[i]
            depth[j] = max(depth[j], depth[i] + 1)
    label = np.zeros(rows * cols, dtype=np.int64)
    for k, (orow, ocol) in enumerate(outlets, start=1):
        label[orow * cols + ocol] = k
    for i in order[::-1]:  # downstream cells first
        if label[i] == 0 and nxt[i] >= 0:
            label[i] = label[nxt[i]]
    return acc.reshape(dem.shape), label.reshape(dem.shape), int(depth.max())


def flow(con, dem: np.ndarray, res: float, outlets: np.ndarray, out: dict) -> int:
    """Mismatched rows of accumulation and watershed."""
    acc, label, _ = d8_reference(dem, res, outlets)
    rows, cols = dem.shape
    r, c = np.divmod(np.arange(rows * cols), cols)
    con.register("acc_ref", pd.DataFrame({"row": r, "col": c, "value": acc.ravel()}))
    lab = label.ravel()
    keep = lab > 0
    con.register("ws_ref", pd.DataFrame({"row": r[keep], "col": c[keep], "value": lab[keep]}))
    cols = "row, col, CAST(value AS BIGINT)"
    bad = _sym_diff(con, "SELECT row, col, value FROM acc_ref",
                    _written(out["acc"], "row, col, value"))
    bad += _sym_diff(con, f"SELECT {cols} FROM ws_ref", _written(out["watershed"], cols))
    return bad
