"""Iterative / global-propagation raster ops (SURVEY.md §2.8): Clump,
Euclidean distance/allocation, D8 pointer, D8 flow accumulation.

Parity contracts:
- Clump (gis_analysis/clump.rs:230-292): flood fill over equal-valued
  4/8-connected cells; clump id = 1-based order of each component's first
  cell in row-major scan; zero_back -> value-0 cells output 0; NoData
  stays NoData. Spark: equal-value adjacency edges + distributed
  connected components (operators/graph.py), then the scan-order id is
  recovered exactly as dense_rank over each component's min row-major
  index (identical to discovery order).
- EuclideanDistance / EuclideanAllocation (gis_analysis/
  euclidean_distance.rs): distance from every cell to the nearest target
  (value != 0) cell. The reference runs Shih & Wu's two-pass transform
  (exact up to its documented corner cases); we compute the EXACT
  nearest-target distance — targets broadcast, numpy min per Arrow batch
  (the same broadcast-small-side pattern as the PIP join; for huge target
  sets the cell-join ring search in operators/radius_join.py applies).
  Allocation ties resolve to the smallest (row, col) target.
- D8Pointer (hydro_analysis/d8_pointer.rs:230-280): steepest positive
  slope over the 8 neighbours, slope = (z - zn)/grid_length (diagonals
  sqrt(2)-scaled), STRICT > so the first maximum in d_x/d_y order wins;
  no positive slope -> 0; output 2^dir (non-ESRI) / rotated (ESRI).
- D8FlowAccumulation (hydro_analysis/d8_flow_accum.rs:330-430): every
  cell starts at 1; counts propagate topologically downstream. Flow is
  strictly height-decreasing => DAG; accum(c) = #cells whose flow path
  passes through c (incl. itself). Spark, tiled (Barnes 2017, "Parallel
  non-divergent flow accumulation for trillion cell DEMs"): one halo
  shuffle, then each tile walks its own cells in descending elevation
  (a topological order) for the in-tile accumulation and the exit cell
  through which each path leaves the tile. Only the small forest of
  exit cells is solved globally (a fixpoint whose rounds count tile
  crossings, not path cells); each tile then re-accumulates with
  weights 1 + inflow from its neighbours. Watershed reuses the same walk
  (see ``watershed``).
"""

from __future__ import annotations

import math
import re
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.errors import PythonException
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from whitebox_tools_spark.operators.focal import _TILE_SCHEMA, with_halo
from whitebox_tools_spark.operators.gridding import GridConfig
from whitebox_tools_spark.operators.graph import (
    changed,
    checkpoint_nostats,
    connected_components,
    fixpoint,
    size_hint,
)

# neighbour order shared by the D8 family (d8_pointer.rs:235-236)
D8_DX = (1, 1, 1, 0, -1, -1, -1, 0)
D8_DY = (-1, 0, 1, 1, 1, 0, -1, -1)


def _cell_id(cfg: GridConfig):
    return (F.col("row") * cfg.cols + F.col("col")).alias("id")


# ----------------------------------------------------------------- clump


def clump(
    raster: DataFrame, cfg: GridConfig, diag: bool = True, zero_back: bool = False
) -> DataFrame:
    """Clump: (row, col, value=clump id as double); background cells keep
    0 when zero_back."""
    cells = raster.where(F.col("value").isNotNull()).select(
        "row", "col", "value", _cell_id(cfg)
    )
    if zero_back:
        fg = cells.where(F.col("value") != 0.0)
        bg = cells.where(F.col("value") == 0.0).select(
            "row", "col", F.lit(0.0).alias("value")
        )
    else:
        fg, bg = cells, None
    fg = fg.localCheckpoint(eager=True)

    n_dirs = 8 if diag else 4
    offs = F.array(
        *[
            F.struct(F.lit(D8_DY[i]).alias("dr"), F.lit(D8_DX[i]).alias("dc"))
            for i in range(8)
            if diag or D8_DX[i] == 0 or D8_DY[i] == 0
        ][:n_dirs]
    )
    ex = fg.select("id", "row", "col", "value", F.explode(offs).alias("o"))
    probe = ex.select(
        F.col("id").alias("a"),
        ((F.col("row") + F.col("o.dr")) * cfg.cols + (F.col("col") + F.col("o.dc"))).alias(
            "nbr"
        ),
        F.col("value").alias("va"),
        (F.col("row") + F.col("o.dr")).alias("nr"),
        (F.col("col") + F.col("o.dc")).alias("nc"),
    ).where(
        (F.col("nr") >= 0) & (F.col("nr") < cfg.rows) & (F.col("nc") >= 0) & (F.col("nc") < cfg.cols)
    )
    other = fg.select(F.col("id").alias("b"), F.col("value").alias("vb"))
    edges = (
        probe.join(other, probe.nbr == other.b)
        .where(F.col("va") == F.col("vb"))
        .select("a", "b")
    )
    comps = connected_components(edges, fg.select("id"), "id")

    # discovery-order id == dense rank of the component's min row-major id
    first = comps.groupBy("comp").agg(F.min("node").alias("first_id"))
    w = Window.orderBy("first_id")
    ranked = first.withColumn("fid", F.row_number().over(w).cast("double"))
    labeled = (
        fg.join(comps, fg.id == comps.node)
        .join(ranked, "comp")
        .select("row", "col", F.col("fid").alias("value"))
    )
    return labeled.unionByName(bg) if bg is not None else labeled


# ---------------------------------------------------- euclidean distance


def euclidean_distance(
    raster: DataFrame, cfg: GridConfig, allocation: bool = False
) -> DataFrame:
    """Exact nearest-target distance for every grid cell (targets =
    cells with value != 0). allocation=True returns the nearest target's
    value instead (ties -> smallest (row, col)).

    Distributed separable EDT (the two-scan idea of
    gis_analysis/euclidean_distance.rs:194-258, re-expressed for Spark):

      phase 1 (per target COLUMN, one window shuffle): the nearest
        target row for every grid row — two last_value(ignorenulls)
        scans, up preferred on ties (keeps the row-major tie-break);
      phase 2 (per grid ROW, one groupBy shuffle): exact min over the
        per-column candidates, numpy-vectorized; a candidate pruned in
        phase 1 is strictly farther, so the min and the lexicographic
        (d2, trow, tcol) tie-break equal the brute row-major argmin.

    Working set = rows x target-columns (the classic O(N) EDT bound);
    NO driver-side target collect, NO broadcast of target arrays."""
    spark = raster.sparkSession
    targets = raster.where(
        F.col("value").isNotNull() & (F.col("value") != 0.0)
    ).select("row", "col", "value")

    tcols = targets.select(F.col("col").alias("tcol")).distinct()
    rows_df = spark.range(cfg.rows).select(F.col("id").alias("row"))
    site = rows_df.crossJoin(tcols).join(
        targets.select(
            "row", F.col("col").alias("tcol"), F.col("value").alias("tval")
        ),
        ["row", "tcol"],
        "left",
    )
    w_up = (
        Window.partitionBy("tcol")
        .orderBy("row")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_dn = (
        Window.partitionBy("tcol")
        .orderBy(F.col("row").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    is_t = F.col("tval").isNotNull()
    s = site.select(
        "row",
        "tcol",
        F.last(F.when(is_t, F.col("row")), ignorenulls=True).over(w_up).alias("ur"),
        F.last(F.when(is_t, F.col("tval")), ignorenulls=True).over(w_up).alias("uv"),
        F.last(F.when(is_t, F.col("row")), ignorenulls=True).over(w_dn).alias("dnr"),
        F.last(F.when(is_t, F.col("tval")), ignorenulls=True).over(w_dn).alias("dnv"),
    )
    take_up = F.col("ur").isNotNull() & (
        F.col("dnr").isNull()
        | ((F.col("row") - F.col("ur")) <= (F.col("dnr") - F.col("row")))
    )
    p1 = s.select(
        "row",
        "tcol",
        F.when(take_up, F.col("ur")).otherwise(F.col("dnr")).alias("trow"),
        F.when(take_up, F.col("uv")).otherwise(F.col("dnv")).alias("tval"),
    )

    schema = T.StructType(
        [
            T.StructField("row", T.LongType()),
            T.StructField("col", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    res_x, res_y = cfg.res_x, cfg.res_y
    n_cols = cfg.cols

    def p2(pdf: pd.DataFrame) -> pd.DataFrame:
        r = int(pdf["row"].iloc[0])
        tc = pdf["tcol"].to_numpy(dtype=np.int64)
        trow = pdf["trow"].to_numpy(dtype=np.int64)
        tv = pdf["tval"].to_numpy(dtype=np.float64)
        # identical per-candidate arithmetic to the brute form:
        # ((dr*res_y))**2 + ((dc*res_x))**2 — so ties match exactly
        g2 = ((r - trow) * res_y) ** 2
        cells_c = np.arange(n_cols, dtype=np.int64)
        d2 = g2[None, :] + ((cells_c[:, None] - tc[None, :]) * res_x) ** 2
        m = d2.min(axis=1)
        tie = d2 == m[:, None]
        key = np.where(
            tie, trow[None, :] * (n_cols + 1) + tc[None, :], np.iinfo(np.int64).max
        )
        idx = key.argmin(axis=1)
        val = tv[idx] if allocation else np.sqrt(m)
        return pd.DataFrame(
            {"row": np.full(n_cols, r, dtype=np.int64), "col": cells_c, "value": val}
        )

    return p1.groupBy("row").applyInPandas(p2, schema=schema)


# ------------------------------------------------------------- D8 family


def _d8_dir_stencil(cfg: GridConfig, esri_style: bool = False, as_index: bool = False):
    diag_len = (cfg.res_x * cfg.res_x + cfg.res_y * cfg.res_y) ** 0.5
    lengths = [
        diag_len, cfg.res_x, diag_len, cfg.res_y, diag_len, cfg.res_x, diag_len, cfg.res_y
    ]
    out_vals = (
        [128.0, 1.0, 2.0, 4.0, 8.0, 16.0, 32.0, 64.0]
        if esri_style
        else [1.0, 2.0, 4.0, 8.0, 16.0, 32.0, 64.0, 128.0]
    )

    def stencil(block, valid, base_r, base_c, cfg_):
        size_r, size_c = block.shape
        best_slope = np.full_like(block, -np.inf)
        best_dir = np.full(block.shape, -1, dtype=np.int64)
        for i, (dx, dy) in enumerate(zip(D8_DX, D8_DY)):
            shifted = np.full_like(block, np.nan)
            vmask = np.zeros_like(valid)
            src_r = slice(max(dy, 0), size_r + min(dy, 0))
            dst_r = slice(max(-dy, 0), size_r + min(-dy, 0))
            src_c = slice(max(dx, 0), size_c + min(dx, 0))
            dst_c = slice(max(-dx, 0), size_c + min(-dx, 0))
            shifted[dst_r, dst_c] = block[src_r, src_c]
            vmask[dst_r, dst_c] = valid[src_r, src_c]
            with np.errstate(invalid="ignore"):
                slope = (block - shifted) / lengths[i]
            upd = vmask & (slope > best_slope) & (slope > 0.0)
            best_slope = np.where(upd, slope, best_slope)
            best_dir = np.where(upd, i, best_dir)
        if as_index:
            out = best_dir.astype(np.float64)  # -1 = pit/flat
        else:
            vals = np.array(out_vals)
            out = np.where(best_dir >= 0, vals[np.clip(best_dir, 0, 7)], 0.0)
        return np.where(valid, out, np.nan)

    return stencil


def d8_pointer(
    raster: DataFrame, cfg: GridConfig, esri_style: bool = False, tile_size: int = 128
) -> DataFrame:
    from whitebox_tools_spark.operators.focal import focal_apply

    return focal_apply(raster, cfg, _d8_dir_stencil(cfg, esri_style), 1, tile_size)


# ------------------------------------------------------ tiled D8 walker

_WALK_SCHEMA = T.StructType(
    [T.StructField(c, T.LongType()) for c in ("tile_row", "tile_col", "row", "col", "id")]
    + [T.StructField(c, T.LongType()) for c in ("rank", "down", "out")]
    + [T.StructField("acc", T.DoubleType())]
    + [T.StructField(c, T.LongType()) for c in ("exit", "label", "ptr")]
)

_DUPLICATE = re.compile(r"duplicate cell \(-?\d+, -?\d+\) in the (raster|pour points)")


def _reject_duplicates(rows: np.ndarray, cols: np.ndarray, what: str) -> None:
    """ValueError naming the first (row-major) repeated (row, col)."""
    o = np.lexsort((cols, rows))
    r, c = rows[o], cols[o]
    rep = (r[1:] == r[:-1]) & (c[1:] == c[:-1])
    if rep.any():
        k = int(np.argmax(rep))
        raise ValueError(f"duplicate cell ({r[k]}, {c[k]}) in the {what}")


def _accumulate(down: np.ndarray, weight: np.ndarray) -> np.ndarray:
    """Weighted in-tile accumulation; cells are indexed by topological
    rank, so every upstream cell is visited before its ``down`` cell."""
    acc = weight.tolist()
    for i, j in enumerate(down.tolist()):
        if j >= 0:
            acc[j] += acc[i]
    return np.asarray(acc, dtype=np.float64)


def _d8_walk(
    raster: DataFrame, cfg: GridConfig, tile_size: int, name: str,
    pour_points: DataFrame | None = None,
) -> DataFrame:
    """One tile-local D8 walk (Barnes 2017): one ``with_halo(t, 1)``
    shuffle, then per tile ``_d8_dir_stencil(as_index=True)`` on the
    padded block and a walk of the tile's own valid cells in descending
    elevation (a topological order: every D8 step strictly descends).

    One row per own valid cell, checkpointed: ``rank`` (topological
    position in the tile) and ``down`` (rank of the in-tile next cell);
    ``out``, the out-of-tile next cell id when the path leaves the tile
    at this cell; ``acc``, the in-tile accumulation; ``exit``, the cell
    through which the path leaves the tile; ``label``, the first pour
    cell on the in-tile path, else ``ptr``, where the path leaves the
    tile. Cell ids are ``row * cols + col``; -1 means none.

    A repeated (row, col) in the raster or in ``pour_points`` raises
    ValueError from the tile that owns it (no extra Spark job)."""
    t, n_cols = tile_size, cfg.cols
    cells = raster.select(
        F.col("row").cast("long"), F.col("col").cast("long"), F.col("value").cast("double")
    )
    rows = with_halo(cells, t, 1).withColumn("pour", F.lit(False))
    if pour_points is not None:
        rows = rows.unionByName(
            pour_points.where(F.col("value").isNotNull()).select(
                F.col("row").cast("long"),
                F.col("col").cast("long"),
                F.lit(None).cast("double").alias("value"),
                (F.col("row") / t).cast("long").alias("tile_row"),
                (F.col("col") / t).cast("long").alias("tile_col"),
                F.lit(False).alias("is_halo"),
                F.lit(True).alias("pour"),
            )
        )
    stencil = _d8_dir_stencil(cfg, as_index=True)
    dy_arr, dx_arr = np.array(D8_DY), np.array(D8_DX)

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        tile_r, tile_c = int(pdf["tile_row"].iloc[0]), int(pdf["tile_col"].iloc[0])
        base_r, base_c = tile_r * t - 1, tile_c * t - 1
        r = pdf["row"].to_numpy(dtype=np.int64)
        c = pdf["col"].to_numpy(dtype=np.int64)
        is_pour = pdf["pour"].to_numpy(dtype=bool)
        own = ~pdf["is_halo"].to_numpy(dtype=bool) & ~is_pour
        _reject_duplicates(r[own], c[own], "raster")
        _reject_duplicates(r[is_pour], c[is_pour], "pour points")

        dem = ~is_pour
        block = np.full((t + 2, t + 2), np.nan, dtype=np.float64)
        block[r[dem] - base_r, c[dem] - base_c] = pdf["value"].to_numpy(dtype=np.float64)[dem]
        valid = ~np.isnan(block)
        dirs = stencil(block, valid, base_r, base_c, cfg)

        lr, lc = r[own] - base_r, c[own] - base_c
        keep = valid[lr, lc]
        lr, lc = lr[keep], lc[keep]
        order = np.argsort(-block[lr, lc], kind="stable")
        lr, lc = lr[order], lc[order]  # index == topological rank
        n = len(lr)
        gid = (lr + base_r) * n_cols + (lc + base_c)
        rank = np.full(block.shape, -1, dtype=np.int64)
        rank[lr, lc] = np.arange(n)

        d = dirs[lr, lc].astype(np.int64)
        flows = d >= 0
        nr = lr + dy_arr[np.clip(d, 0, 7)]
        nc = lc + dx_arr[np.clip(d, 0, 7)]
        down = np.where(flows, rank[nr, nc], -1)
        out = np.where(flows & (down < 0), (nr + base_r) * n_cols + (nc + base_c), -1)

        pr, pc = r[is_pour] - base_r, c[is_pour] - base_c
        inside = (pr >= 1) & (pr <= t) & (pc >= 1) & (pc <= t)
        pour_rank = rank[pr[inside], pc[inside]]
        is_p = np.zeros(n, dtype=bool)
        is_p[pour_rank[pour_rank >= 0]] = True

        # downstream first: a cell inherits exit / label / ptr of its next cell
        ex = np.where(out >= 0, gid, -1).tolist()
        label = np.where(is_p, gid, -1).tolist()
        ptr = np.where(is_p, -1, out).tolist()
        dn = down.tolist()
        for i in range(n - 1, -1, -1):
            j = dn[i]
            if j >= 0:
                ex[i] = ex[j]
                if label[i] < 0:
                    label[i], ptr[i] = label[j], ptr[j]
        return pd.DataFrame(
            {
                "tile_row": np.full(n, tile_r, dtype=np.int64),
                "tile_col": np.full(n, tile_c, dtype=np.int64),
                "row": lr + base_r,
                "col": lc + base_c,
                "id": gid,
                "rank": np.arange(n, dtype=np.int64),
                "down": down,
                "out": out,
                "acc": _accumulate(down, np.ones(n)),
                "exit": np.asarray(ex, dtype=np.int64),
                "label": np.asarray(label, dtype=np.int64),
                "ptr": np.asarray(ptr, dtype=np.int64),
            }
        )

    walked = rows.groupBy("tile_row", "tile_col").applyInPandas(walk, schema=_WALK_SCHEMA)
    try:
        return checkpoint_nostats(walked)
    except PythonException as e:  # the tile's ValueError, as Spark reports it
        dup = _DUPLICATE.search(str(e))
        if dup is None:
            raise
        raise ValueError(f"{name}: {dup.group(0)}") from None


def _one_tile(cfg: GridConfig, tile_size: int) -> bool:
    """The whole grid is tile (0, 0): no path can leave it."""
    return cfg.rows <= tile_size and cfg.cols <= tile_size


def d8_flow_accumulation(
    raster: DataFrame, cfg: GridConfig, tile_size: int = 128, max_rounds: int = 200
) -> DataFrame:
    """acc(c) = #cells whose D8 flow path passes through c (out_type=
    'cells', the reference default), from one tile-local walk
    (``_d8_walk``) plus a fixpoint over the exit-cell forest only:
    out(x) = local_acc(x) + sum of out(y) over exit cells y whose target's
    in-tile path leaves through x. Each entry cell then takes
    inflow = sum of out(x) over the exit cells x pointing at it, and each
    tile re-accumulates with weights 1 + inflow. ``max_rounds`` bounds the
    exit-cell loop, whose rounds count tile crossings along a flow path
    (not cells); a grid of one tile skips it."""
    walked = _d8_walk(raster, cfg, tile_size, "d8_flow_accumulation")
    if _one_tile(cfg, tile_size):
        return walked.select("row", "col", F.col("acc").alias("value"))

    small = cfg.rows * cfg.cols <= 2_000_000
    exits = walked.where(F.col("out") >= 0).select(
        "id", F.col("acc").alias("local"), F.col("out").alias("tgt")
    )
    edges = checkpoint_nostats(
        exits.join(walked.select(F.col("id").alias("tgt"), F.col("exit").alias("b")), "tgt")
        .where(F.col("b") >= 0)
        .select(F.col("id").alias("a"), "b")
    )

    def _step(out):
        contrib = (
            edges.join(size_hint(out, small), edges.a == out.id)
            .groupBy("b")
            .agg(F.sum("acc").alias("up"))
        )
        return exits.join(size_hint(contrib, small), exits.id == contrib.b, "left").select(
            "id", (F.col("local") + F.coalesce(F.col("up"), F.lit(0.0))).alias("acc")
        )

    out = fixpoint(
        exits.select("id", F.col("local").alias("acc")), _step, changed("id", "acc"),
        max_rounds, "d8_flow_accumulation",
    )
    inflow = (
        exits.join(out, "id").groupBy(F.col("tgt").alias("id")).agg(F.sum("acc").alias("inflow"))
    )
    weighted = walked.join(size_hint(inflow, small), "id", "left").select(
        "tile_row", "tile_col", "row", "col", "rank", "down",
        (F.lit(1.0) + F.coalesce(F.col("inflow"), F.lit(0.0))).alias("w"),
    )

    def reaccumulate(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rank")  # ranks are 0..n-1 per tile
        acc = _accumulate(pdf["down"].to_numpy(), pdf["w"].to_numpy(dtype=np.float64))
        return pd.DataFrame(
            {"row": pdf["row"].to_numpy(), "col": pdf["col"].to_numpy(), "value": acc}
        )

    return weighted.groupBy("tile_row", "tile_col").applyInPandas(
        reaccumulate, schema=_TILE_SCHEMA
    )


# --------------------------------------------------------------- watershed


def watershed(
    raster: DataFrame, pour_points: DataFrame, cfg: GridConfig, tile_size: int = 128,
    max_rounds: int = 40,
) -> DataFrame:
    """Watershed (hydro_analysis/watershed.rs:300-400): every cell takes
    the id of the FIRST pour point on its D8 downstream walk; pour-point
    cells keep their own id; cells whose walk ends in a pit with no pour
    point stay NoData.

    ``pour_points``: (row, col, value=id); the output ``value`` keeps the
    type of the pour ``value``. The tile-local walk (``_d8_walk``) labels
    every cell whose in-tile path meets a pour cell and points the rest
    at the cell where their path leaves the tile; pointer doubling over
    those pointers then resolves label(c) in O(log tile crossings)
    rounds, each two hash joins on cell ids (checkpointed). A grid of one
    tile needs no rounds."""
    walked = _d8_walk(raster, cfg, tile_size, "watershed", pour_points)
    state = walked.select(
        "row",
        "col",
        "id",
        F.when(F.col("label") >= 0, F.col("label")).alias("label"),
        F.when(F.col("ptr") >= 0, F.col("ptr")).alias("ptr"),
    )
    small = cfg.rows * cfg.cols <= 2_000_000

    def _jump(state):
        target = size_hint(
            state.select(
                F.col("id").alias("t_id"),
                F.col("label").alias("t_label"),
                F.col("ptr").alias("t_ptr"),
            ),
            small,
        )
        return state.join(target, state.ptr == target.t_id, "left").select(
            "row",
            "col",
            "id",
            F.coalesce(F.col("label"), F.col("t_label")).alias("label"),
            F.when(
                F.col("label").isNull() & F.col("t_label").isNull(), F.col("t_ptr")
            ).alias("ptr"),
        )

    def _unresolved(new, old):
        return new.where(F.col("label").isNull() & F.col("ptr").isNotNull())

    if not _one_tile(cfg, tile_size):
        state = fixpoint(state, _jump, _unresolved, max_rounds, "watershed")
    in_grid = (
        (F.col("row") >= 0) & (F.col("row") < cfg.rows)
        & (F.col("col") >= 0) & (F.col("col") < cfg.cols)
    )
    pour = pour_points.where(in_grid & F.col("value").isNotNull()).select(
        (F.col("row") * cfg.cols + F.col("col")).alias("label"), "value"
    )
    return state.where(F.col("label").isNotNull()).join(pour, "label").select(
        "row", "col", "value"
    )
