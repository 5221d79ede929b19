"""Cell-join point-in-polygon — the huge-layer strategy.

The 'expr' and 'arrow' strategies in operators/pip.py both broadcast the
whole polygon layer (inlined into the plan / sc.broadcast).  That is the
right call while the layer fits in executor memory; a country-scale
parcel layer (10^8+ vertices) does not.  This module evaluates the SAME
fold (the one per-record rule tabled in operators/pip.py; winding kernel
poly_ops.rs:21-72) without materializing the layer on any single node:
two hash equi-joins find the rings that hold each point, then
``_per_record`` folds them into records and a max over record order picks
the tag:

1. bbox candidate join — feature bboxes are exploded to covering grid
   cells (cell edge ~ median feature bbox side, so ~4 cells/feature);
   points compute one cell key; a hash join yields the candidate
   (point, feature) pairs, post-filtered by the exact bbox test the
   reference applies (``is_point_in_box``).
2. banded winding join — ring edges are exploded to the horizontal
   bands their y-extent covers; a candidate pair joins the edges of
   that feature in the point's band only.  The winding term
   (up-crossing with point strictly left -> +1, down-crossing with
   point strictly right -> -1) is EXACTLY zero for any edge whose
   y-interval does not straddle py, and every straddling edge is
   present in band(py) by construction — so the banded integer sum is
   bit-identical to the kernel's full-ring sum, with no tolerance.

Both joins are plain equi-joins on well-distributed long keys (AQE
handles hot cells); the per-pair work is a codegen-able projection and
three partial aggregations.  Layer-side prep here starts from the
driver-resident feature list (the catalog's layers are small); for a
layer that itself lives in a DataFrame the same explode runs as a
distributed select — the join topology is unchanged.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whitebox_tools_spark.operators.cells import pack_cell
from whitebox_tools_spark.sources.vectors import PolygonFeature
from whitebox_tools_spark.localrel import local_df

_PID = "_pip_pid"


def _layer_tables(spark, layer: list[PolygonFeature]):
    """(cand_cells_df, edges_df, cell_size, band_h, y0) from a feature list."""
    bboxes = [f.bbox for f in layer]
    sides = [max(b[2] - b[0], b[3] - b[1]) for b in bboxes]
    sides = [s for s in sides if s > 0] or [1.0]
    cell = float(np.median(sides)) / 2.0 or 1.0

    total_verts = sum(len(r) for f in layer for r in f.rings)
    ymin = min(b[1] for b in bboxes)
    ymax = max(b[3] for b in bboxes)
    nb = int(min(4096, max(16, 2 * math.sqrt(max(total_verts, 1)))))
    band_h = max((ymax - ymin) / nb, 1e-12)

    cc_rows = []
    for o, feat in enumerate(layer):
        xmin, ymin_f, xmax, ymax_f = feat.bbox
        for ci in range(int(math.floor(xmin / cell)), int(math.floor(xmax / cell)) + 1):
            for cj in range(
                int(math.floor(ymin_f / cell)), int(math.floor(ymax_f / cell)) + 1
            ):
                cc_rows.append(
                    ((ci << 32) | (cj & 0xFFFFFFFF), o, feat.fid, xmin, ymin_f, xmax, ymax_f)
                )
    cand = local_df(
        spark, cc_rows, columns=["cell_key", "o", "fid", "xmin", "ymin", "xmax", "ymax"]
    )

    e_rows = []
    for o, feat in enumerate(layer):
        for ri, (ring, hole) in enumerate(zip(feat.rings, feat.holes)):
            for i in range(len(ring) - 1):
                ax, ay = float(ring[i, 0]), float(ring[i, 1])
                bx, by = float(ring[i + 1, 0]), float(ring[i + 1, 1])
                lo = int(math.floor((min(ay, by) - ymin) / band_h))
                hi = int(math.floor((max(ay, by) - ymin) / band_h))
                for b in range(lo, hi + 1):
                    e_rows.append((o, feat.fid, ri, bool(hole), b, ax, ay, bx, by))
    edges = local_df(
        spark, e_rows, columns=["o", "fid", "ring_idx", "hole", "band", "ax", "ay", "bx", "by"]
    )
    return cand, edges, cell, band_h, ymin


def _ring_hits(
    points: DataFrame, layer: list[PolygonFeature], x: str, y: str
) -> tuple[DataFrame, DataFrame]:
    """(points_with_pid, per-ring hit frame (_pid, o, fid, ring_idx, hole))."""
    spark = points.sparkSession
    cand, edges, cell, band_h, y0 = _layer_tables(spark, layer)
    # _PID is the join key between the pts branch and the pc branch; pin
    # the ids with a localCheckpoint so an AQE replan / task retry of a
    # non-deterministic upstream can't recompute the scan with different
    # partitioning and diverge the two branches (dropping/duping points).
    pts = points.withColumn(
        _PID, F.monotonically_increasing_id()
    ).localCheckpoint(eager=False)
    pc = pts.select(
        _PID,
        F.col(x).alias("px"),
        F.col(y).alias("py"),
        pack_cell(
            F.floor(F.col(x) / F.lit(cell)).cast("long"),
            F.floor(F.col(y) / F.lit(cell)).cast("long"),
        ).alias("cell_key"),
        F.floor((F.col(y) - F.lit(y0)) / F.lit(band_h)).cast("long").alias("band"),
    )
    pairs = (
        pc.join(cand, "cell_key")
        .where(
            (F.col("px") >= F.col("xmin"))
            & (F.col("px") <= F.col("xmax"))
            & (F.col("py") >= F.col("ymin"))
            & (F.col("py") <= F.col("ymax"))
        )
        .select(_PID, "px", "py", "band", "o", "fid")
    )
    j = pairs.join(edges, ["o", "fid", "band"])
    il = (F.col("bx") - F.col("ax")) * (F.col("py") - F.col("ay")) - (
        F.col("px") - F.col("ax")
    ) * (F.col("by") - F.col("ay"))
    up = (F.col("ay") <= F.col("py")) & (F.col("by") > F.col("py")) & (il > 0.0)
    dn = (F.col("ay") > F.col("py")) & (F.col("by") <= F.col("py")) & (il < 0.0)
    term = F.when(up, 1).when(dn, -1).otherwise(0)
    # ``hole`` is fixed per ring, so it is no grouping key: a ring record
    # (last_wins) then groups on the same keys again, with no exchange
    wn = (
        j.groupBy(_PID, "o", "fid", "ring_idx")
        .agg(F.sum(term).alias("wn"), F.max("hole").alias("hole"))
        .where(F.pmod(F.col("wn"), F.lit(2)) != 0)
        .select(_PID, "o", "fid", "ring_idx", "hole")
    )
    return pts, wn


def _per_record(wn: DataFrame, rec: list[str]) -> DataFrame:
    """(_pid, *rec, fid, hole) per record with any ring hit, ``rec`` the
    record's key columns; ``hole``: one of its holes holds the point (if
    not, one of its shells does)."""
    return wn.groupBy(_PID, *rec, "fid").agg(F.max("hole").alias("hole"))


def tag_polygon_cells(
    points: DataFrame,
    layer: list[PolygonFeature],
    unit: str,
    clears: bool,
    x: str = "x",
    y: str = "y",
    out: str = "poly_fid",
) -> DataFrame:
    """``points`` plus the fold's tag in ``out``; ``unit`` and ``clears``
    come from ``pip._rule``. A record whose hole is hit leaves the tag
    unless ``clears``, so it drops out before the max."""
    pts, wn = _ring_hits(points, layer, x, y)
    rec = ["o", "ring_idx"] if unit == "ring" else ["o"]
    hits = _per_record(wn, rec)
    if not clears:
        hits = hits.where(~F.col("hole"))
    v = F.when(F.col("hole"), F.lit(None).cast("long")).otherwise(F.col("fid"))
    st = hits.groupBy(_PID).agg(F.max(F.struct(*rec, v.alias("v"))).alias("m"))
    return pts.join(st.select(_PID, F.col("m.v").alias(out)), _PID, "left").drop(_PID)
