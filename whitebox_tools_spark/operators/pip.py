"""Point-in-polygon overlay joins (Clip / Erase / ClipLidarToPolygon family).

Parity contract: every tag and clip is ONE fold over records, in (record,
ring) order. A record has a bbox, shell rings and hole rings. For each
record whose bbox holds the point (the reference's ``is_point_in_box``):
if one of its holes holds the point, the tag is cleared (null) or left as
it was; else if one of its shells does, the tag becomes the record's fid;
else the tag does not change. A clip keeps the points whose tag is set
(semi) or not set (anti). The reference tool fixes the record and the
hole effect (``_rule`` is the only code that knows this table):

  reference tool (call, part_mode)      record                a hole hit
  ------------------------------------  --------------------  ------------
  Clip point mode (tag_polygon and      each ring, with its   clears the
  clip_points, last_wins)               feature's bbox        tag
  ClipLidarToPolygon (clip_points,      the feature           clears the
  shell_then_hole)                                            tag
  VectorPolygonsToRaster (tag_polygon,  the feature           leaves the
  shell_then_hole; raster paint, clip                         earlier tag
  and erase)

Sources: gis_analysis/clip.rs:292-340 (the last ring hit decides: its
fid, or null if it is a hole); lidar_analysis/clip_lidar_to_polygon.rs:
264-310 (the last record with any ring hit decides, so a later record's
hole clears an earlier record's shell); data_tools/
vector_polygons_to_raster.rs:386-560 (the last record whose shells hold
the point and whose own holes do not).

The PIP kernel itself is the even-odd winding of kernels/geometry.py;
boundary points are outside.

Scale design — three physical strategies of the same fold:
- 'expr' (default for layers up to EXPR_MAX_VERTICES total vertices): the
  fold is emitted as pure JVM column expressions, one ``CASE WHEN`` per
  record around a plain per-edge winding sum unrolled per ring
  (``_inside_ring_col``) — zero Python, zero Arrow transfer, a NARROW
  pass. It wins only while the whole-stage method that holds the fold
  stays under HotSpot's 8000-byte JIT limit
  (``session.HUGE_METHOD_LIMIT``); past it ``get_spark`` runs the stage
  per operator and the arrow path is faster. On the flagship pipeline
  (20M synth docs, 4 cores) the 20-vertex rectangle layer's stage
  compiles (7765 bytes) and runs 1.7-1.9x the docs/sec of the arrow
  path; a stage that does not compile loses that lead (table at
  EXPR_MAX_VERTICES).
- 'arrow': the fold in numpy, in a scalar pandas UDF over (x, y) — for
  layers too large to inline into the plan (the batch evaluates thousands
  of rings per point efficiently). Also narrow. Only the two coordinate
  columns cross the Arrow boundary (Spark's ``ArrowEvalPython`` zips the
  result back onto the rows it buffers in the JVM), and the UDF is
  transparent to column pruning, so a projection above it reaches the
  parquet scan.
- 'cells' (operators/pip_cells.py): the huge-layer path — the layer is
  never broadcast; the ring hits come from two hash equi-joins (bbox
  cells, then banded winding edges) with a bit-identical integer winding
  sum, and the fold is a per-record aggregate and a max over record
  order. Pick it explicitly when the layer will not fit in executor
  memory.
"""

from __future__ import annotations

from typing import Literal, get_args

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

# the tag column a clip filters on
_TAG = "_pip_tag"


def _rule(op: str, part_mode: str) -> tuple[str, bool]:
    """(record unit, whether a hole hit clears the tag) for ``op`` ('tag'
    or 'clip') under ``part_mode``: the module table, and the one place
    that knows it."""
    if part_mode not in get_args(PartMode):
        raise ValueError(
            f"unknown part_mode {part_mode!r}; expected one of {', '.join(get_args(PartMode))}"
        )
    if part_mode == "last_wins":
        return "ring", True
    return "feature", op == "clip"


def _records(layer: list[PolygonFeature], unit: str):
    """(fid, bbox, shell rings, hole rings) per record, in fold order."""
    for feat in layer:
        bbox, parts = feat.bbox, list(zip(feat.rings, feat.holes))
        for rec in [[p] for p in parts] if unit == "ring" else [parts]:
            yield feat.fid, bbox, [r for r, h in rec if not h], [r for r, h in rec if h]


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


def _any_ring_col(x: F.Column, y: F.Column, rings: list[np.ndarray]) -> F.Column | None:
    hit = None
    for ring in rings:
        inside = _inside_ring_col(x, y, ring)
        hit = inside if hit is None else hit | inside
    return hit


def _tag_col(
    layer: list[PolygonFeature], x: F.Column, y: F.Column, unit: str, clears: bool
) -> F.Column:
    """The fold as one column expression (null if no tag). A record emits
    no branch for a shell or hole half it does not have, and reads
    ``state`` once, so the tree grows linearly with the records."""
    null = F.lit(None).cast("long")
    state = null
    for fid, (xmin, ymin, xmax, ymax), shells, holes in _records(layer, unit):
        bb = (x >= F.lit(xmin)) & (x <= F.lit(xmax)) & (y >= F.lit(ymin)) & (y <= F.lit(ymax))
        shell, hole = _any_ring_col(x, y, shells), _any_ring_col(x, y, holes)
        if not clears:
            # a hole hit leaves the tag: one branch, one read of ``state``
            shell, hole = shell if shell is None or hole is None else shell & ~hole, None
        case = None
        for hit, v in ((hole, null), (shell, F.lit(fid).cast("long"))):
            if hit is not None:
                case = F.when(bb & hit, v) if case is None else case.when(bb & hit, v)
        if case is not None:
            state = case.otherwise(state)
    return state


# --------------------------------------------------------- numpy path


def _any_ring(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    hit = np.zeros(len(px), dtype=bool)
    for ring in rings:
        hit |= point_in_poly(px, py, ring)
    return hit


def _tag_np(
    px: np.ndarray, py: np.ndarray, layer: list[PolygonFeature], unit: str, clears: bool
) -> tuple[np.ndarray, np.ndarray]:
    """The fold in numpy: (fid, tagged) per point. ``tagged`` is a mask,
    not a fid sentinel, so every fid value is a tag."""
    fid = np.zeros(len(px), dtype=np.int64)
    tagged = np.zeros(len(px), dtype=bool)
    for rec_fid, (xmin, ymin, xmax, ymax), shells, holes in _records(layer, unit):
        idx = np.nonzero((px >= xmin) & (px <= xmax) & (py >= ymin) & (py <= ymax))[0]
        if not len(idx):
            continue
        qx, qy = px[idx], py[idx]
        hole = _any_ring(qx, qy, holes)
        if clears:
            tagged[idx[hole]] = False
        hit = idx[_any_ring(qx, qy, shells) & ~hole]
        fid[hit] = rec_fid
        tagged[hit] = True
    return fid, tagged


def _coords(px: pd.Series, py: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    # a null coordinate arrives as NaN: every comparison is False, so the
    # point is in no polygon, as on the expr path
    return px.to_numpy(dtype=np.float64), py.to_numpy(dtype=np.float64)


def _layer_vertices(layer: list[PolygonFeature]) -> int:
    return sum(len(r) for f in layer for r in f.rings)


def _strategy(strategy: str, layer: list[PolygonFeature]) -> str:
    if strategy not in STRATEGIES:
        raise ValueError(
            f"unknown PIP strategy {strategy!r}; expected one of {', '.join(STRATEGIES)}"
        )
    if strategy == "auto":
        return "expr" if _layer_vertices(layer) <= EXPR_MAX_VERTICES else "arrow"
    return strategy


def _tag(
    points: DataFrame,
    layer: list[PolygonFeature],
    op: str,
    part_mode: str,
    x: str,
    y: str,
    out: str,
    strategy: str,
) -> DataFrame:
    """``points`` plus the fold's tag in ``out``, for ``op`` under
    ``part_mode`` on the chosen strategy."""
    unit, clears = _rule(op, part_mode)
    strategy = _strategy(strategy, layer)
    if strategy == "cells":
        from whitebox_tools_spark.operators.pip_cells import tag_polygon_cells

        return tag_polygon_cells(points, layer, unit, clears, x, y, out)
    if strategy == "expr":
        return points.withColumn(out, _tag_col(layer, F.col(x), F.col(y), unit, clears))
    bc = points.sparkSession.sparkContext.broadcast(layer)

    @F.pandas_udf(T.LongType())
    def fid_of(px: pd.Series, py: pd.Series) -> pd.Series:
        fid, tagged = _tag_np(*_coords(px, py), bc.value, unit, clears)
        return pd.Series(pd.arrays.IntegerArray(fid, ~tagged))

    return points.withColumn(out, fid_of(F.col(x), F.col(y)))


def clip_points(
    points: DataFrame,
    layer: list[PolygonFeature],
    mode: Mode = "semi",
    part_mode: PartMode = "last_wins",
    x: str = "x",
    y: str = "y",
    strategy: str = "auto",
) -> DataFrame:
    """Spatial semi/anti join of a point table against a broadcast layer:
    the points whose clip tag (module table) is set, resp. not set."""
    if mode not in get_args(Mode):
        raise ValueError(f"unknown mode {mode!r}; expected one of {', '.join(get_args(Mode))}")
    inside = F.col(_TAG).isNotNull()
    tagged = _tag(points, layer, "clip", part_mode, x, y, _TAG, strategy)
    return tagged.where(inside if mode == "semi" else ~inside).drop(_TAG)


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
    to merge attributes). The tag is the module's one fold; the call and
    part_mode set its record and what a hole hit does:

      call, part_mode               record     a hole hit    reference tool
      ----------------------------  ---------  ------------  --------------
      tag_polygon / clip_points,    each ring  clears        Clip
      last_wins
      clip_points, shell_then_hole  feature    clears        ClipLidarTo-
                                                             Polygon
      tag_polygon, shell_then_hole  feature    leaves the    VectorPolygons-
                                               earlier tag   ToRaster
    """
    return _tag(points, layer, "tag", part_mode, x, y, out, strategy)
