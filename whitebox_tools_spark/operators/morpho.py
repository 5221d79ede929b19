"""Hit-and-miss morphology family (image_analysis/line_thin.rs,
thicken_line.rs, corner_detection.rs): boolean-raster pattern matching
over the 8-neighbourhood, as synchronous tile+halo stencil passes.

The reference's thinning/thickening scans update the raster IN PLACE in
row-major order (line_thin.rs:9 documents the shared read/write buffer),
so later cells see earlier writes of the same pass — an inherently
sequential wavefront. The engine runs the SYNCHRONOUS (Jacobi) variant
of the same masks — every pass reads the previous pass's raster — which
distributes as one focal stencil per pass and converges to an equally
valid thinning/thickening (documented deviation; corner_detection is
read-only in the reference too, so it is replicated exactly).

Neighbour order (shared D8 convention, line_thin.rs dx/dy):
    dx = [1, 1, 1, 0, -1, -1, -1, 0]; dy = [-1, 0, 1, 1, 1, 0, -1, -1]
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whitebox_tools_spark.operators.focal import focal_apply
from whitebox_tools_spark.operators.graph import changed, fixpoint
from whitebox_tools_spark.operators.gridding import GridConfig

MDX = [1, 1, 1, 0, -1, -1, -1, 0]
MDY = [-1, 0, 1, 1, 1, 0, -1, -1]

# line_thin.rs:231-246 — four directional deletion masks, two element sets
THIN_ELEMENTS1 = [[6, 7, 0, 4, 3, 2], [0, 1, 2, 4, 5, 6], [2, 3, 4, 6, 7, 0], [4, 5, 6, 0, 1, 2]]
THIN_ELEMENTS2 = [[7, 0, 1, 3, 5], [1, 2, 3, 5, 7], [3, 4, 5, 7, 1], [5, 6, 7, 1, 3]]
THIN_VALS1 = [0.0, 0.0, 0.0, 1.0, 1.0, 1.0]
THIN_VALS2 = [0.0, 0.0, 0.0, 1.0, 1.0]

# corner_detection.rs elements/vals — corner hit-and-miss masks
CORNER_ELEMENTS = [[1, 7, 3, 4, 5], [5, 7, 1, 2, 3], [3, 5, 0, 1, 7], [1, 3, 5, 6, 7]]
CORNER_VALS = [1.0, 1.0, 0.0, 0.0, 0.0]


def _shift(arr: np.ndarray, dy: int, dx: int, fill: float) -> np.ndarray:
    """arr sampled at (r+dy, c+dx) for every cell; out-of-block = fill."""
    out = np.full_like(arr, fill)
    nr, nc = arr.shape
    src_r = slice(max(dy, 0), nr + min(dy, 0))
    dst_r = slice(max(-dy, 0), nr + min(-dy, 0))
    src_c = slice(max(dx, 0), nc + min(dx, 0))
    dst_c = slice(max(-dx, 0), nc + min(-dx, 0))
    out[dst_r, dst_c] = arr[src_r, src_c]
    return out


def _neighbour_stack(v: np.ndarray, valid: np.ndarray):
    """(8, H, W) neighbour values + validity under the shared D8 order."""
    nb = np.stack([_shift(v, dy, dx, np.nan) for dx, dy in zip(MDX, MDY)])
    nv = np.stack(
        [_shift(valid.astype(np.float64), dy, dx, 0.0) for dx, dy in zip(MDX, MDY)]
    ).astype(bool)
    return nb, nv


def _thin_pass(raster: DataFrame, cfg: GridConfig, a: int, tile_size: int) -> DataFrame:
    def stencil(block, valid, base_r, base_c, cfg_):
        v = np.where(valid, block, np.nan)
        nb, nv = _neighbour_stack(v, valid)
        # a neighbour expectation matches only for a VALID cell equal to
        # the expected 0/1 (reference reads nodata outside -> no match)
        m1 = np.ones(block.shape, dtype=bool)
        for e, val in zip(THIN_ELEMENTS1[a], THIN_VALS1):
            m1 &= nv[e] & (nb[e] == val)
        m2 = np.ones(block.shape, dtype=bool)
        for e, val in zip(THIN_ELEMENTS2[a], THIN_VALS2):
            m2 &= nv[e] & (nb[e] == val)
        fg = valid & (block > 0.0)
        out = np.where(fg & (m1 | m2), 0.0, block)
        return np.where(valid, out, np.nan)

    return focal_apply(raster, cfg, stencil, 1, tile_size)


def line_thinning(
    raster: DataFrame, cfg: GridConfig, max_rounds: int = 20, tile_size: int = 128
) -> DataFrame:
    """LineThinning (image_analysis/line_thin.rs): iterated 4-directional
    hit-and-miss deletion until stable (synchronous engine form)."""

    def step(cur):
        for a in range(4):
            cur = _thin_pass(cur, cfg, a, tile_size).localCheckpoint(eager=True)
        return cur

    return fixpoint(
        raster.localCheckpoint(eager=True), step, changed(["row", "col"], "value"),
        max_rounds, "line_thinning",
    )


def thicken_raster_line(
    raster: DataFrame, cfg: GridConfig, tile_size: int = 128
) -> DataFrame:
    """ThickenRasterLine (image_analysis/thicken_line.rs): a background
    cell gains the value of orthogonal neighbour n1 when the n1/n3 pair
    around a background diagonal n2 is foreground (synchronous single
    pass; the reference's in-place scan can additionally cascade within
    one sweep — documented deviation)."""
    n1 = list(zip([0, 1, 0, -1], [-1, 0, 1, 0]))
    n2 = list(zip([1, 1, -1, -1], [-1, 1, 1, -1]))
    n3 = list(zip([1, 0, -1, 0], [0, 1, 0, -1]))

    def stencil(block, valid, base_r, base_c, cfg_):
        v = np.where(valid, block, np.nan)
        out = block.copy()
        bg = valid & ~(block > 0.0)
        assigned = np.zeros(block.shape, dtype=bool)
        for (x1, y1), (x2, y2), (x3, y3) in zip(n1, n2, n3):
            z1 = _shift(v, y1, x1, np.nan)
            z2 = _shift(v, y2, x2, np.nan)
            z3 = _shift(v, y3, x3, np.nan)
            with np.errstate(invalid="ignore"):
                hit = bg & ~assigned & (z1 > 0.0) & (z3 > 0.0) & ~(z2 > 0.0)
            out = np.where(hit, z1, out)
            assigned |= hit
        return np.where(valid, out, np.nan)

    return focal_apply(raster, cfg, stencil, 1, tile_size)


def corner_detection(
    raster: DataFrame, cfg: GridConfig, tile_size: int = 128
) -> DataFrame:
    """CornerDetection (image_analysis/corner_detection.rs, exact): 1.0
    where a foreground cell matches any of the four corner hit-and-miss
    masks over >0-normalized neighbours (nodata counts as background,
    matching the reference's normalization), else 0.0."""

    def stencil(block, valid, base_r, base_c, cfg_):
        fg01 = np.where(valid & (block > 0.0), 1.0, 0.0)
        nb = np.stack([_shift(fg01, dy, dx, 0.0) for dx, dy in zip(MDX, MDY)])
        any_match = np.zeros(block.shape, dtype=bool)
        for a in range(4):
            m = np.ones(block.shape, dtype=bool)
            for e, val in zip(CORNER_ELEMENTS[a], CORNER_VALS):
                m &= nb[e] == val
            any_match |= m
        out = np.where(valid & (block > 0.0) & any_match, 1.0, 0.0)
        return np.where(valid, out, np.nan)

    return focal_apply(raster, cfg, stencil, 1, tile_size)
