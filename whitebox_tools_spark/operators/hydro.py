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
  passes through c (incl. itself). Spark: frontier iteration
  acc_{t+1} = 1 + sum(upstream acc_t), converging in longest-flow-path
  rounds (bounded, localCheckpoint'ed); at cluster scale this is the
  standard aggregate-messages loop.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from whitebox_tools_spark.operators.gridding import GridConfig
from whitebox_tools_spark.operators.graph import (
    changed,
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


def d8_flow_accumulation(
    raster: DataFrame, cfg: GridConfig, tile_size: int = 128, max_rounds: int = 200
) -> DataFrame:
    """acc(c) = #cells whose D8 flow path passes through c (out_type=
    'cells', the reference default). Frontier iteration over the flow DAG."""
    from whitebox_tools_spark.operators.focal import focal_apply

    dirs = focal_apply(
        raster, cfg, _d8_dir_stencil(cfg, as_index=True), 1, tile_size
    ).select("row", "col", F.col("value").cast("int").alias("dir"))
    dirs = dirs.localCheckpoint(eager=True)

    dx = F.array(*[F.lit(v) for v in D8_DX])
    dy = F.array(*[F.lit(v) for v in D8_DY])
    # the packed target id needs no bounds check HERE because dirs comes
    # from _d8_dir_stencil above, which can only select an existing
    # in-grid neighbor; a caller-supplied dirs raster must be bounds-
    # checked (see strahler_order in operators/cluster.py)
    down = dirs.where(F.col("dir") >= 0).select(
        _cell_id(cfg).alias("a"),
        (
            (F.col("row") + F.element_at(dy, F.col("dir") + 1)) * cfg.cols
            + (F.col("col") + F.element_at(dx, F.col("dir") + 1))
        ).alias("b"),
    )
    down = down.localCheckpoint(eager=True)

    nodes = dirs.select("row", "col", _cell_id(cfg))
    small = cfg.rows * cfg.cols <= 2_000_000

    def _step(acc):
        contrib = (
            down.join(size_hint(acc, small), down.a == acc.id)
            .groupBy("b")
            .agg(F.sum("acc").alias("inflow"))
        )
        return (
            nodes.select("id")
            .join(size_hint(contrib, small), nodes.id == contrib.b, "left")
            .select("id", (F.lit(1.0) + F.coalesce(F.col("inflow"), F.lit(0.0))).alias("acc"))
        )

    acc = fixpoint(
        nodes.select("id", F.lit(1.0).alias("acc")), _step, changed("id", "acc"),
        max_rounds, "d8_flow_accumulation",
    )
    return nodes.join(acc, "id").select("row", "col", F.col("acc").alias("value"))


# --------------------------------------------------------------- watershed


def watershed(
    raster: DataFrame, pour_points: DataFrame, cfg: GridConfig, tile_size: int = 128,
    max_rounds: int = 40,
) -> DataFrame:
    """Watershed (hydro_analysis/watershed.rs:300-400): every cell takes
    the id of the FIRST pour point on its D8 downstream walk; pour-point
    cells keep their own id; cells whose walk ends in a pit with no pour
    point stay NoData.

    ``pour_points``: (row, col, value=id). Distributed via pointer
    doubling over the flow function — label(c) resolves in O(log path)
    rounds; each round is two hash joins on cell ids (localCheckpoint'ed).
    """
    from whitebox_tools_spark.operators.focal import focal_apply

    dirs = focal_apply(
        raster, cfg, _d8_dir_stencil(cfg, as_index=True), 1, tile_size
    ).select("row", "col", F.col("value").cast("int").alias("dir"))

    dx = F.array(*[F.lit(v) for v in D8_DX])
    dy = F.array(*[F.lit(v) for v in D8_DY])
    nodes = dirs.select(
        "row",
        "col",
        _cell_id(cfg),
        F.when(
            F.col("dir") >= 0,
            (F.col("row") + F.element_at(dy, F.col("dir") + 1)) * cfg.cols
            + (F.col("col") + F.element_at(dx, F.col("dir") + 1)),
        ).alias("nxt"),
    )
    pour = pour_points.select(
        (F.col("row") * cfg.cols + F.col("col")).alias("id"),
        F.col("value").alias("pour_id"),
    )
    # pour cells are terminal: their own label, no onward pointer needed
    state = (
        nodes.join(pour, "id", "left")
        .select(
            "row",
            "col",
            "id",
            F.col("pour_id").alias("label"),
            F.when(F.col("pour_id").isNull(), F.col("nxt")).alias("ptr"),
        )
        .localCheckpoint(eager=True)
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

    state = fixpoint(state, _jump, _unresolved, max_rounds, "watershed")
    return state.where(F.col("label").isNotNull()).select(
        "row", "col", F.col("label").alias("value")
    )
