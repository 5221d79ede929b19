"""Polygonize (gis_analysis/polygonize.rs): build the polygons enclosed
by an intersecting line set.

The reference splits polylines at intersections, prunes acyclic
(dangling) arcs with per-arc Dijkstra probes, then walks minimal rings
by repeated max-angle turns and dedupes the traced polygons
(:180-1100).  The engine computes the same planar-arrangement faces
with the textbook distributed construction instead:

1. split every segment at its intersections (grid-cell equi-join
   machinery, operators/cost.line_intersections), snap coordinates to
   SNAP decimals for vertex identity, dedupe undirected pieces;
2. peel to the 2-core (iterated degree-1 removal) — exactly the arcs
   the reference's acyclic-arc pass deletes;
3. emit two half-edges per piece and compute each half-edge's face
   successor with one aggregation per head vertex: next(h) is the
   out-edge whose angle is the clockwise-next from h's reverse
   direction (wrapping to the global max) — the DCEL rotation rule
   that the reference's "max angle turn" walk follows implicitly;
4. faces = cycles of the `next` permutation = connected components of
   the functional graph (hash-to-min pointer jumping, O(log ring)
   rounds with early exit, operators/graph.connected_components);
5. ring order: one applyInPandas walk per face — a face is one
   polygon boundary, so the per-group size is a single ring, the same
   per-feature bound every vector tool in the engine relies on.  The
   walk keeps faces with positive signed area (bounded faces trace
   CCW; the unbounded face of every component traces CW) and emits the
   ring rotated to its lexicographically smallest vertex.

fid is the rank of the canonical ring (first vertex, length, ring
hash) — deterministic under any partitioning.

Deviations (documented): fids are canonical rank, not the reference's
discovery order; a component fully nested inside another component's
face is emitted as its own polygon rather than subtracted as a hole
(the reference's hull/poly_in_poly pass); collinear overlapping
segments are not merged.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SNAP = 6


def _pieces(lines: DataFrame) -> DataFrame:
    """Split at intersections -> deduped undirected pieces (ax,ay,bx,by)."""
    from whitebox_tools_spark.operators.cost import line_intersections

    pts = line_intersections(lines, lines).where(F.col("s1") != F.col("s2"))
    seg = lines.select(F.col("seg_id").alias("s1"), "x1", "y1", "x2", "y2")
    t_of = (
        F.when(
            F.abs(F.col("x2") - F.col("x1")) >= F.abs(F.col("y2") - F.col("y1")),
            F.try_divide(F.col("x") - F.col("x1"), F.col("x2") - F.col("x1")),
        ).otherwise(F.try_divide(F.col("y") - F.col("y1"), F.col("y2") - F.col("y1")))
    )
    cuts = pts.join(seg, "s1").select("s1", t_of.alias("t"))
    bounds = (
        cuts.unionByName(seg.select("s1", F.lit(0.0).alias("t")))
        .unionByName(seg.select("s1", F.lit(1.0).alias("t")))
        .where(F.col("t").isNotNull())
        .where((F.col("t") >= 0.0) & (F.col("t") <= 1.0))
        .distinct()
    )
    w = Window.partitionBy("s1").orderBy("t")
    iv = bounds.withColumn("t2", F.lead("t").over(w)).where(F.col("t2").isNotNull())
    px = lambda t: F.round(F.col("x1") + t * (F.col("x2") - F.col("x1")), SNAP)
    py = lambda t: F.round(F.col("y1") + t * (F.col("y2") - F.col("y1")), SNAP)
    p = iv.join(seg, "s1").select(
        px(F.col("t")).alias("ux"), py(F.col("t")).alias("uy"),
        px(F.col("t2")).alias("vx"), py(F.col("t2")).alias("vy"),
    ).where((F.col("ux") != F.col("vx")) | (F.col("uy") != F.col("vy")))
    a_first = (F.col("ux") < F.col("vx")) | (
        (F.col("ux") == F.col("vx")) & (F.col("uy") < F.col("vy"))
    )
    return p.select(
        F.when(a_first, F.col("ux")).otherwise(F.col("vx")).alias("ax"),
        F.when(a_first, F.col("uy")).otherwise(F.col("vy")).alias("ay"),
        F.when(a_first, F.col("vx")).otherwise(F.col("ux")).alias("bx"),
        F.when(a_first, F.col("vy")).otherwise(F.col("uy")).alias("by"),
    ).distinct()


def _walk_face(pdf: pd.DataFrame) -> pd.DataFrame:
    """Order one face's half-edges into a ring; keep it iff CCW (bounded)."""
    nxt = dict(zip(pdf["hid"], pdf["nh"]))
    pt = {h: (x, y) for h, x, y in zip(pdf["hid"], pdf["ux"], pdf["uy"])}
    start = min(nxt)
    ring, h = [], start
    for _ in range(len(nxt)):
        ring.append(pt[h])
        h = nxt[h]
        if h == start:
            break
    n = len(ring)
    if n < 3 or n < len(nxt):
        # inconsistent cycle (shouldn't happen post-peel): drop
        return pd.DataFrame(
            columns=["key", "vi", "x", "y", "x0", "y0", "n"]
        ).astype({"vi": "int32", "x": "f8", "y": "f8", "x0": "f8", "y0": "f8", "n": "int64"})
    a2 = sum(
        ring[i][0] * ring[(i + 1) % n][1] - ring[(i + 1) % n][0] * ring[i][1]
        for i in range(n)
    )
    if a2 <= 0.0:
        return pd.DataFrame(
            columns=["key", "vi", "x", "y", "x0", "y0", "n"]
        ).astype({"vi": "int32", "x": "f8", "y": "f8", "x0": "f8", "y0": "f8", "n": "int64"})
    rot = min(range(n), key=lambda i: ring[i])
    ring = ring[rot:] + ring[:rot]
    key = ";".join(f"{x:.6f},{y:.6f}" for x, y in ring)
    return pd.DataFrame(
        {
            "key": key,
            "vi": pd.array(range(n), dtype="int32"),
            "x": [round(x, 6) for x, _ in ring],
            "y": [round(y, 6) for _, y in ring],
            "x0": ring[0][0],
            "y0": ring[0][1],
            "n": n,
        }
    )


def polygonize(lines: DataFrame, peel_rounds: int = 32) -> DataFrame:
    """(fid, vi, x, y): canonical vertex rows of every enclosed polygon."""
    from whitebox_tools_spark.operators.graph import connected_components, fixpoint

    def peel(edges):
        """2-core peel: drop pieces with an endpoint of degree 1."""
        ends = edges.select(F.col("ax").alias("x"), F.col("ay").alias("y")).unionAll(
            edges.select(F.col("bx").alias("x"), F.col("by").alias("y"))
        )
        deg = ends.groupBy("x", "y").agg(F.count(F.lit(1)).alias("deg"))
        d1 = deg.where(F.col("deg") <= 1)
        return edges.join(
            d1.select(F.col("x").alias("ax"), F.col("y").alias("ay")),
            ["ax", "ay"],
            "left_anti",
        ).join(
            d1.select(F.col("x").alias("bx"), F.col("y").alias("by")),
            ["bx", "by"],
            "left_anti",
        )

    def dropped(new, old):
        return old.join(new, old.columns, "left_anti")

    edges = fixpoint(
        _pieces(lines).localCheckpoint(eager=True), peel, dropped, peel_rounds, "polygonize"
    )

    # ids are stable: assigned on a materialized (checkpointed) frame
    eid = edges.withColumn("e", F.monotonically_increasing_id())
    he = (
        eid.select(
            (F.col("e") * 2).alias("hid"),
            F.col("ax").alias("ux"), F.col("ay").alias("uy"),
            F.col("bx").alias("vx"), F.col("by").alias("vy"),
        )
        .unionByName(
            eid.select(
                (F.col("e") * 2 + 1).alias("hid"),
                F.col("bx").alias("ux"), F.col("by").alias("uy"),
                F.col("ax").alias("vx"), F.col("ay").alias("vy"),
            )
        )
        .withColumn("angle", F.atan2(F.col("vy") - F.col("uy"), F.col("vx") - F.col("ux")))
        .withColumn("rangle", F.atan2(F.col("uy") - F.col("vy"), F.col("ux") - F.col("vx")))
        .localCheckpoint(eager=True)
    )
    out = he.select(
        F.col("ux").alias("ox"), F.col("uy").alias("oy"),
        F.col("angle").alias("oang"), F.col("hid").alias("ohid"),
    )
    # DCEL rotation rule: clockwise-next out-edge from the reverse direction
    nxt_ptr = (
        he.join(out, (F.col("vx") == F.col("ox")) & (F.col("vy") == F.col("oy")))
        .where(F.col("ohid") != F.col("hid").bitwiseXOR(F.lit(1)))
        .groupBy("hid")
        .agg(
            F.max(
                F.struct(
                    F.when(F.col("oang") < F.col("rangle"), 1).otherwise(0).alias("lt"),
                    F.col("oang").alias("ang"),
                    F.col("ohid").alias("nh"),
                )
            ).alias("m")
        )
        .select("hid", F.col("m.nh").alias("nh"))
    )
    succ = (
        he.select("hid", "ux", "uy")
        .join(nxt_ptr, "hid", "left")
        .select(
            "hid", "ux", "uy",
            # twin fallback only reachable pre-peel; kept for safety
            F.coalesce("nh", F.col("hid").bitwiseXOR(F.lit(1))).alias("nh"),
        )
        .localCheckpoint(eager=True)
    )

    # faces = cycles of the `next` permutation = CCs of the functional graph
    comp = connected_components(
        succ.select(F.col("hid").alias("a"), F.col("nh").alias("b")),
        succ.select("hid"),
        node="hid",
    ).select(F.col("node").alias("hid"), F.col("comp").alias("face"))

    rings = (
        succ.join(comp, "hid")
        .groupBy("face")
        .applyInPandas(
            lambda _, pdf: _walk_face(pdf),
            "key string, vi int, x double, y double, x0 double, y0 double, n bigint",
        )
    )
    fid = (
        rings.select("key", "x0", "y0", "n")
        .distinct()
        .withColumn("fid", F.row_number().over(Window.orderBy("x0", "y0", "n", "key")))
        .select("key", "fid")
    )
    return rings.join(fid, "key").select("fid", "vi", "x", "y")
