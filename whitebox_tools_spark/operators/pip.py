"""Point-in-polygon overlay joins (Clip / Erase / ClipLidarToPolygon family).

Parity contracts, (op, part_mode) -> the reference tool's rule:

  op, part_mode                    reference rule
  -------------------------------  ---------------------------------------
  tag_polygon, last_wins           Clip point mode (gis_analysis/clip.rs:
                                   292-340): all parts of the layer in
                                   (record, ring) order, bbox pre-test; the
                                   LAST ring hit decides: its fid, or null
                                   if it is a hole.
  clip_points, last_wins           Clip point mode: inside iff the
                                   last_wins tag is not null.
  tag_polygon, shell_then_hole     VectorPolygonsToRaster (data_tools/
                                   vector_polygons_to_raster.rs:386-560):
                                   fid of the LAST record whose shells hold
                                   the point and whose own holes do not.
  raster.polygons_to_raster,       VectorPolygonsToRaster /
  raster.clip_raster_to_polygon    ClipRasterToPolygon: the shell_then_hole
                                   tag over cell centres (painted value;
                                   clip keeps not null, erase keeps null).
  clip_points, shell_then_hole     ClipLidarToPolygon (lidar_analysis/
                                   clip_lidar_to_polygon.rs:264-310): per
                                   record, shells first (any hit ->
                                   inside), then holes (any hit ->
                                   outside); the LAST record with any ring
                                   hit decides, so a later record's hole
                                   can clear an earlier record's shell.

The PIP kernel itself is the even-odd winding of kernels/geometry.py;
boundary points are outside.

Scale design — three physical strategies, same semantics:
- 'expr' (default for layers up to EXPR_MAX_VERTICES total vertices): the
  winding-number fold is emitted as pure JVM column expressions (a
  plain per-edge sum unrolled per ring, ``_inside_ring_col``) — zero
  Python, zero Arrow transfer, a NARROW pass. It wins only while the
  whole-stage method that holds the fold stays under HotSpot's 8000-byte
  JIT limit (``session.HUGE_METHOD_LIMIT``); past it ``get_spark`` runs
  the stage per operator and the arrow path is faster. On the flagship
  pipeline (20M synth docs, 4 cores) the 20-vertex rectangle layer's
  stage compiles (7765 bytes) and runs 1.7-1.9x the docs/sec of the
  arrow path; a stage that does not compile loses that lead (table at
  EXPR_MAX_VERTICES).
- 'arrow': a scalar pandas UDF over (x, y) with the numpy kernels — for
  layers too large to inline into the plan (the batch evaluates thousands
  of rings per point efficiently). Also narrow. Only the two coordinate
  columns cross the Arrow boundary (Spark's ``ArrowEvalPython`` zips the
  result back onto the rows it buffers in the JVM), and the UDF is
  transparent to column pruning, so a projection above it reaches the
  parquet scan.
Both replicate the reference's per-feature bbox pre-test
(``is_point_in_box``) before the exact winding evaluation.

- 'cells' (operators/pip_cells.py): the huge-layer path — the layer is
  never broadcast; membership is two hash equi-joins (bbox cells, then
  banded winding edges) with a bit-identical integer winding sum. Pick it
  explicitly when the layer will not fit in executor memory.
"""

from __future__ import annotations

from typing import Literal

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from whitebox_tools_spark.kernels.geometry import point_in_poly
from whitebox_tools_spark.sources.vectors import PolygonFeature

Mode = Literal["semi", "anti"]
PartMode = Literal["last_wins", "shell_then_hole"]

# layers up to this many total vertices inline into the plan ('expr').
# The fold pays only while its fused stage JIT-compiles: each crossing
# edge adds about 490 bytes to the stage's largest method, and past 8000
# bytes the stage runs per operator (session.HUGE_METHOD_LIMIT), where
# the arrow path wins. Flagship shape (bench._flagship_synth, 20M synth
# docs, noop sink), 4 cores, median of 3 warm runs, limit on:
#
#   layer            vertices  max method  expr s  arrow s
#   rect_layer       20        7765        2.29    4.32
#   1-feature star   12        6652        2.17    4.15
#   1-feature star   14        7628        2.47    4.00
#   1-feature star   16        8604        4.17    4.27
#   1-feature star   18        9580        4.32    4.02
#   1-feature star   20        10556       4.37    3.63
#   1-feature star   26        13484       4.86    3.98
#   1-feature star   35        17684       6.01    4.18
#   1-feature star   51        25492       7.27    3.80
#
# (Without the limit the 20-vertex star's expr stage runs interpreted:
# 23.18 s against 4.09 s arrow.) The star crossover, where every edge
# crosses, is 14-16 vertices; rect_layer's horizontal edges fold away,
# so its 20 vertices compile. The threshold sits at rect_layer's 20 so
# that every catalog PIP, paint, clip and zonal row stays on 'expr';
# it is a vertex count, so a 16-20-vertex layer whose edges all cross
# takes 'expr' past the limit. Chunking the fold into intermediate
# projected columns does NOT shrink the method: CollapseProject
# re-inlines single-use aliases.
EXPR_MAX_VERTICES = 20

STRATEGIES = ("auto", "expr", "arrow", "cells")

# the tag column a last_wins clip filters on
_TAG = "_pip_tag"


# --------------------------------------------------- JVM expression path


def _inside_ring_col(x: F.Column, y: F.Column, ring: np.ndarray) -> F.Column:
    """Even-odd winding membership as a pure column expression.

    Bit-identical transcription of poly_ops.rs:21-72 / kernels.geometry:
    is_left = (bx-ax)*(py-ay) - (px-ax)*(by-ay); upward crossing with
    point strictly left -> +1, downward with point strictly right -> -1;
    inside iff winding % 2 != 0 (edge points OUTSIDE).

    The fold is UNROLLED into a plain sum of per-edge expressions rather
    than an ``aggregate`` higher-order function: HOFs materialize the
    literal edge array per row (interpreted eval + per-row allocation),
    which made the overlay GC-bound and anti-scale with thread count;
    the unrolled form is pure whole-stage codegen with zero allocation."""
    wn = None
    for i in range(len(ring) - 1):
        ax, ay = float(ring[i, 0]), float(ring[i, 1])
        bx, by = float(ring[i + 1, 0]), float(ring[i + 1, 1])
        il = (F.lit(bx) - F.lit(ax)) * (y - F.lit(ay)) - (x - F.lit(ax)) * (
            F.lit(by) - F.lit(ay)
        )
        up = (F.lit(ay) <= y) & (F.lit(by) > y) & (il > 0.0)
        dn = (F.lit(ay) > y) & (F.lit(by) <= y) & (il < 0.0)
        term = F.when(up, 1).when(dn, -1).otherwise(0)
        wn = term if wn is None else wn + term
    return F.pmod(wn, F.lit(2)) != 0


def _bbox_col(x: F.Column, y: F.Column, feat: PolygonFeature) -> F.Column:
    xmin, ymin, xmax, ymax = feat.bbox
    return (
        (x >= F.lit(xmin)) & (x <= F.lit(xmax)) & (y >= F.lit(ymin)) & (y <= F.lit(ymax))
    )


def membership_col(layer: list[PolygonFeature], x: F.Column, y: F.Column) -> F.Column:
    """ClipLidarToPolygon membership as a boolean column; ``_membership``
    is its numpy twin."""
    state = F.lit(False)
    for feat in layer:
        bb = _bbox_col(x, y, feat)
        shell = F.lit(False)
        for ring, hole in zip(feat.rings, feat.holes):
            if not hole:
                shell = shell | _inside_ring_col(x, y, ring)
        hole_hit = F.lit(False)
        for ring, hole in zip(feat.rings, feat.holes):
            if hole:
                hole_hit = hole_hit | _inside_ring_col(x, y, ring)
        state = F.when(bb & hole_hit, F.lit(False)).when(bb & shell, F.lit(True)).otherwise(
            state
        )
    return state


def fid_col(
    layer: list[PolygonFeature],
    x: F.Column,
    y: F.Column,
    part_mode: PartMode = "last_wins",
) -> F.Column:
    """Tagging feature fid column (null if none); rules in ``tag_polygon``."""
    state = F.lit(None).cast("long")
    for feat in layer:
        fid = F.lit(feat.fid).cast("long")
        if part_mode == "shell_then_hole":
            state = F.when(membership_col([feat], x, y), fid).otherwise(state)
            continue
        bb = _bbox_col(x, y, feat)
        for ring, hole in zip(feat.rings, feat.holes):
            val = F.lit(None).cast("long") if hole else fid
            state = F.when(bb & _inside_ring_col(x, y, ring), val).otherwise(state)
    return state


def _layer_vertices(layer: list[PolygonFeature]) -> int:
    return sum(len(r) for f in layer for r in f.rings)


def _membership(px: np.ndarray, py: np.ndarray, layer: list[PolygonFeature]) -> np.ndarray:
    """ClipLidarToPolygon membership per point: per feature record, shells
    tested first (any hit -> true), then holes (any hit -> false,
    overriding the shell verdict). The membership flag persists ACROSS
    records in the reference (it is initialized once per point,
    clip_lidar_to_polygon.rs:269), so a later record's verdict overwrites
    an earlier one's wherever it hits."""
    inside = np.zeros(len(px), dtype=bool)
    for feat in layer:
        xmin, ymin, xmax, ymax = feat.bbox
        in_bb = (px >= xmin) & (px <= xmax) & (py >= ymin) & (py <= ymax)
        if not in_bb.any():
            continue
        idx = np.nonzero(in_bb)[0]
        shell_hit = np.zeros(len(idx), dtype=bool)
        for ring, hole in zip(feat.rings, feat.holes):
            if not hole:
                shell_hit |= point_in_poly(px[idx], py[idx], ring)
        hole_hit = np.zeros(len(idx), dtype=bool)
        for ring, hole in zip(feat.rings, feat.holes):
            if hole:
                hole_hit |= point_in_poly(px[idx], py[idx], ring)
        inside[idx] = np.where(hole_hit, False, np.where(shell_hit, True, inside[idx]))
    return inside


def _strategy(strategy: str, layer: list[PolygonFeature]) -> str:
    if strategy not in STRATEGIES:
        raise ValueError(
            f"unknown PIP strategy {strategy!r}; expected one of {', '.join(STRATEGIES)}"
        )
    if strategy == "auto":
        return "expr" if _layer_vertices(layer) <= EXPR_MAX_VERTICES else "arrow"
    return strategy


def _fids(
    px: np.ndarray, py: np.ndarray, layer: list[PolygonFeature], part_mode: PartMode
) -> np.ndarray:
    """Tag fid per point, -1 if none (``fid_col`` in numpy)."""
    fid = np.full(len(px), -1, dtype=np.int64)
    for feat in layer:
        xmin, ymin, xmax, ymax = feat.bbox
        in_bb = (px >= xmin) & (px <= xmax) & (py >= ymin) & (py <= ymax)
        if not in_bb.any():
            continue
        idx = np.nonzero(in_bb)[0]
        if part_mode == "last_wins":
            for ring, hole in zip(feat.rings, feat.holes):
                hit = point_in_poly(px[idx], py[idx], ring)
                fid[idx[hit]] = -1 if hole else feat.fid
        else:
            fid[idx[_membership(px[idx], py[idx], [feat])]] = feat.fid
    return fid


def _coords(px: pd.Series, py: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    # a null coordinate arrives as NaN: every comparison is False, so the
    # point is in no polygon, as on the expr path
    return px.to_numpy(dtype=np.float64), py.to_numpy(dtype=np.float64)


def clip_points(
    points: DataFrame,
    layer: list[PolygonFeature],
    mode: Mode = "semi",
    part_mode: PartMode = "last_wins",
    x: str = "x",
    y: str = "y",
    strategy: str = "auto",
) -> DataFrame:
    """Spatial semi/anti join of a point table against a broadcast layer.

    Under ``last_wins`` a point is inside iff its ``tag_polygon`` tag is
    set; ``shell_then_hole`` is ClipLidarToPolygon's own membership rule."""
    if part_mode == "last_wins":
        tagged = tag_polygon(points, layer, part_mode, x, y, _TAG, strategy)
        m = F.col(_TAG).isNotNull()
        return tagged.where(m if mode == "semi" else ~m).drop(_TAG)
    strategy = _strategy(strategy, layer)
    if strategy == "cells":
        from whitebox_tools_spark.operators.pip_cells import clip_points_cells

        return clip_points_cells(points, layer, mode, x, y)
    if strategy == "expr":
        m = membership_col(layer, F.col(x), F.col(y))
    else:
        bc = points.sparkSession.sparkContext.broadcast(layer)

        @F.pandas_udf(T.BooleanType())
        def inside(px: pd.Series, py: pd.Series) -> pd.Series:
            return pd.Series(_membership(*_coords(px, py), bc.value))

        m = inside(F.col(x), F.col(y))
    return points.where(m if mode == "semi" else ~m)


def tag_polygon(
    points: DataFrame,
    layer: list[PolygonFeature],
    part_mode: PartMode = "last_wins",
    x: str = "x",
    y: str = "y",
    out: str = "poly_fid",
    strategy: str = "auto",
) -> DataFrame:
    """Adds the fid of the feature that tags each point, null if none.

    This is the join form of the overlay (what Intersect point-mode needs
    to merge attributes). The rule per part_mode (module table):

      part_mode        tag (reference tool)                 read by
      ---------------  -----------------------------------  -----------------
      last_wins        fid of the last ring hit in          clip_points
                       (record, ring) order, null if that   (last_wins):
                       ring is a hole (Clip)                tag is not null
      shell_then_hole  fid of the last record whose shells  raster paint,
                       hold the point and whose own holes   clip and erase
                       do not (VectorPolygonsToRaster)
    """
    strategy = _strategy(strategy, layer)
    if strategy == "cells":
        from whitebox_tools_spark.operators.pip_cells import tag_polygon_cells

        return tag_polygon_cells(points, layer, part_mode, x, y, out)
    if strategy == "expr":
        return points.withColumn(out, fid_col(layer, F.col(x), F.col(y), part_mode))
    bc = points.sparkSession.sparkContext.broadcast(layer)

    @F.pandas_udf(T.LongType())
    def fid_of(px: pd.Series, py: pd.Series) -> pd.Series:
        fid = _fids(*_coords(px, py), bc.value, part_mode)
        return pd.Series(pd.arrays.IntegerArray(fid, fid < 0))

    return points.withColumn(out, fid_of(F.col(x), F.col(y)))
