"""Fixed-radius and kNN neighbour joins (the FRS contract as Spark joins).

Parity contracts (src/structures/fixed_radius_search.rs):
- radius join (:100-133): result = all (query, point) pairs with
  dist^2 <= radius^2 (inclusive), found via bucket = radius/2 + 5x5 probe;
- kNN join (:134-218): shell expansion from the 3x3 block, stop at the
  first chebyshev shell where the CUMULATIVE candidate count reaches k,
  answer = k smallest distances among candidates seen so far (approximate
  by design — we replicate the stopping rule exactly);
- Euclidean metric reports sqrt(d2), Squared reports d2.

Scale design:
- radius join: one explode (25x on the QUERY side only) + one hash
  equi-join on the packed cell key. The explode happens before the
  exchange so Catalyst sees a plain equi-join; AQE skew-join splits hot
  cells at runtime.
- knn join: one lazy plan of equi-joins, with no driver action and no
  Python. A query's stop shell s* is the first chebyshev shell (the 3x3
  block is shell 1) whose running point count reaches k. It is found with
  a count pyramid: each point's cell (i, j) is exploded to levels
  l = 0..32 as (l, i >> l, j >> l) and counted per coarse cell. The
  shifts are signed, so negative cells floor. At level 32 every packable
  cell (|i| < 2^31) lies in the 2x2 block {-1, 0}^2, so there the 3x3
  block around any query cell holds every point.
  - pick the level: each coarse cell's 3x3 block count C_l (its 9
    neighbours exploded and summed) is kept where it reaches k, and at
    level 32 always. The 3x3 block at l + 1 holds the one at l, so C_l
    never falls as l grows and a query's kept levels run from l* to 32:
    l* is the one kept level whose level below is not kept (a semi join
    and an anti join against the same table, no aggregation).
  - why that bounds s*: the 3x3 coarse block at level l holds every cell
    within chebyshev distance 2^l of the query cell and lies within
    2^(l+1) - 1, so s* <= 2^(l*+1) - 1. The 5x5 coarse block at l* holds
    every cell within 2^(l*+1), so each shell up to s* is complete in it.
  - exact stop: equi-join that 5x5 block against the points' level rows,
    drop the points past the bound, and keep a point when the points in
    the shells strictly inside its own shell number fewer than k (a
    running count per query). Those are exactly the points of shell
    <= s*, or every candidate when fewer than k points exist.
  The candidate set is bounded by the points near the query, never by
  empty area. The level and the stop are found per query row, not per
  distinct query cell: that needs no distinct and no join back, and the
  stop window and the top-k window share one hash partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from whitebox_tools_spark.operators.cells import (
    cell_cols,
    explode_neighbors,
    pack_cell,
    with_cell,
)


def _d2_mul(x: str, y: str):
    """Squared distance via explicit self-multiplication (NOT pow): keeps
    the arithmetic bit-identical with the numpy and DuckDB oracles."""
    dx = F.col(x) - F.col(f"{x}_p")
    dy = F.col(y) - F.col(f"{y}_p")
    return dx * dx + dy * dy


def _prep_points(points: DataFrame, radius: float, x: str, y: str) -> DataFrame:
    pts = with_cell(points, radius, x, y, prefix="pcell")
    # suffix every point column with _p to avoid collisions with the query side
    return pts.select(
        [F.col(c).alias(f"{c}_p") for c in points.columns]
        + [F.col("pcell_key").alias("cell_key_p")]
    )


def radius_join(
    points: DataFrame,
    queries: DataFrame,
    radius: float,
    x: str = "x",
    y: str = "y",
    squared: bool = False,
) -> DataFrame:
    """All (query, point) pairs within ``radius``.

    Output: all query columns + point columns suffixed ``_p`` + ``dist``.
    """
    pts = _prep_points(points, radius, x, y)
    q = with_cell(queries, radius, x, y, prefix="qcell")
    probe = explode_neighbors(q, steps=2, prefix="qcell").drop(
        "qcell_i", "qcell_j", "qcell_key"
    )
    joined = probe.join(pts, probe.probe_key == pts.cell_key_p, "inner").drop(
        "probe_key", "cell_key_p"
    )
    d2 = _d2_mul(x, y)
    out = joined.where(d2 <= F.lit(radius * radius))
    dist = d2 if squared else F.sqrt(d2)
    return out.withColumn("dist", dist)


# level l maps cell i to coarse cell i >> l; level 32 puts every packable
# cell (|i| < 2^31) into one 2x2 block
_TOP_LEVEL = 32


def _at_level(df: DataFrame, i: str, j: str) -> DataFrame:
    """Appends ``_l_i`` / ``_l_j``: cell (i, j) at level ``_lvl`` (a signed
    shift, so negative cells floor)."""
    return df.select(
        "*",
        F.call_function("shiftright", F.col(i), F.col("_lvl")).alias("_l_i"),
        F.call_function("shiftright", F.col(j), F.col("_lvl")).alias("_l_j"),
    )


def _every_level(df: DataFrame) -> DataFrame:
    return df.select("*", F.explode(F.sequence(F.lit(0), F.lit(_TOP_LEVEL))).alias("_lvl"))


def _reach(levels: DataFrame, k: int) -> DataFrame:
    """(_lvl, _lkey): the coarse cells whose 3x3 block count C_l reaches k.
    Every cell at the top level is kept, so each query has a level when
    points exist."""
    coarse = levels.groupBy("_lvl", "_l_i", "_l_j").agg(F.count(F.lit(1)).alias("_n"))
    return (
        explode_neighbors(coarse, steps=1, prefix="_l", out="_lkey")
        .groupBy("_lvl", "_lkey")
        .agg(F.sum("_n").alias("_c"))
        .where((F.col("_c") >= k) | (F.col("_lvl") == _TOP_LEVEL))
        .select("_lvl", "_lkey")
    )


def knn_join(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    radius: float,
    query_id: str = "qid",
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """Approximate kNN join with the reference's shell-stop semantics.

    Output: query columns + point columns (``_p``) + ``dist`` + ``knn_rank``
    (1..k by ascending distance; reference tie order — cell probe order —
    is replaced by a deterministic (d2, x_p, y_p) sort; compare
    order-insensitively).
    """
    if k < 1:
        raise ValueError(f"knn_join needs k >= 1, got {k}")
    ci, cj = cell_cols(F.col(x), F.col(y), radius)
    pts = points.select(
        [F.col(c).alias(f"{c}_p") for c in points.columns]
        + [ci.alias("_c_i"), cj.alias("_c_j")]
    )
    levels = _at_level(_every_level(pts), "_c_i", "_c_j")
    reach = _reach(levels, k)

    # l* is the one level in reach whose level below is not: C_l never
    # falls as l grows, so a query's levels in reach run from l* to the top
    q = with_cell(queries, radius, x, y, prefix="qcell")
    q_lvl = _at_level(_every_level(q), "qcell_i", "qcell_j").select(
        "*",
        pack_cell(F.col("_l_i"), F.col("_l_j")).alias("_lkey"),
        pack_cell(
            F.call_function("shiftright", F.col("qcell_i"), F.col("_lvl") - 1),
            F.call_function("shiftright", F.col("qcell_j"), F.col("_lvl") - 1),
        ).alias("_below"),
    )
    # both joins probe the same (_lvl, _lkey) table, so it is built once;
    # level -1 is never in reach, so the anti join never drops level 0
    below = (F.col("q._lvl") - 1 == F.col("r._lvl")) & (
        F.col("q._below") == F.col("r._lkey")
    )
    picked = (
        q_lvl.join(reach, ["_lvl", "_lkey"], "left_semi")
        .alias("q")
        .join(reach.alias("r"), below, "left_anti")
    )

    # exact stop on the points of the 5x5 coarse block at l*; the level
    # rows join on the coarse key, so only the picked level's rows match
    block = explode_neighbors(picked, steps=2, prefix="_l", out="_lkey").drop(
        "_l_i", "_l_j", "_below", "qcell_key"
    )
    fine = levels.select(
        "*", pack_cell(F.col("_l_i"), F.col("_l_j")).alias("_lkey")
    ).drop("_l_i", "_l_j")
    shell = F.greatest(
        F.abs(F.col("_c_i") - F.col("qcell_i")),
        F.abs(F.col("_c_j") - F.col("qcell_j")),
        F.lit(1),
    )
    inner = Window.partitionBy(query_id).orderBy("_shell").rangeBetween(
        Window.unboundedPreceding, -1
    )
    kept = (
        block.join(fine, ["_lvl", "_lkey"])
        .withColumn("_shell", shell)
        # s* <= 2^(l*+1) - 1: drop the block's outer cells before the shuffle
        .where(F.col("_shell") < F.call_function("shiftleft", F.lit(2).cast("long"), "_lvl"))
        .withColumn("_inner", F.count(F.lit(1)).over(inner))
        .where(F.col("_inner") < k)
        .drop("_lvl", "_lkey", "_c_i", "_c_j", "qcell_i", "qcell_j", "_shell", "_inner")
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("_d2").asc(), F.col(f"{x}_p"), F.col(f"{y}_p")
    )
    ranked = (
        kept.withColumn("_d2", _d2_mul(x, y))
        .withColumn("knn_rank", F.row_number().over(w))
        .where(F.col("knn_rank") <= k)
    )
    return ranked.withColumn("dist", F.sqrt(F.col("_d2"))).drop("_d2")
