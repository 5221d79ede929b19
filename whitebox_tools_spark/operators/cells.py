"""Grid-cell indexing — the engine's spatial index.

Re-expresses the reference's hash-grid FixedRadiusSearch contract
(src/structures/fixed_radius_search.rs:58-133) as columns + joins:

    cell_i = floor(x / (radius/2)),  cell_j = floor(y / (radius/2))

A radius query probes the 5x5 neighbour cells; in Spark the QUERY side is
exploded to its 25 neighbour cells and hash-joined against the point side
on the packed cell key. All arithmetic is JVM-side.

Cell key packing: ``(cell_i << 32) | (cell_j & 0xffffffff)`` — exact while
|cell| < 2^31 (coordinate extent / (radius/2) < 2^31, far beyond any real
dataset). Packing gives a single long join key (cheaper hash/shuffle than
a two-column key).

Skew: hot cells (the FIXTURES skew knob, or real-world point clustering)
are handled by (a) AQE skew-join splitting (enabled in session.py) on the
shuffle join, and (b) explicit two-stage salting: ``with_salt`` appends a
deterministic per-row salt for hot aggregation keys (group on (key, salt),
merge partials by key) and ``explode_salt`` replicates a small join side
across the salt domain so a salted equi-join sees all pairs exactly once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MASK32 = (1 << 32) - 1


def cell_cols(x: Column, y: Column, radius: float) -> tuple[Column, Column]:
    inv_r = 1.0 / (radius * 0.5)
    return (
        F.floor(x * F.lit(inv_r)).cast("long"),
        F.floor(y * F.lit(inv_r)).cast("long"),
    )


def pack_cell(ci: Column, cj: Column) -> Column:
    return F.shiftleft(ci, 32).bitwiseOR(cj.bitwiseAND(F.lit(MASK32)))


def with_cell(
    df: DataFrame, radius: float, x: str = "x", y: str = "y", prefix: str = "cell"
) -> DataFrame:
    ci, cj = cell_cols(F.col(x), F.col(y), radius)
    return (
        df.withColumn(f"{prefix}_i", ci)
        .withColumn(f"{prefix}_j", cj)
        .withColumn(f"{prefix}_key", pack_cell(F.col(f"{prefix}_i"), F.col(f"{prefix}_j")))
    )


def explode_neighbors(
    df: DataFrame,
    steps: int = 2,
    prefix: str = "cell",
    out: str = "probe_key",
) -> DataFrame:
    """Explode each row to its (2*steps+1)^2 neighbour cell keys.

    steps=2 is the reference's 5x5 radius probe; steps=1 the 3x3 kNN start
    block. One explode of a precomputed offset array (not two nested) keeps
    the plan to a single Generate node. The array is one SQL literal: built
    column by column it costs a JVM round trip per offset.
    """
    offsets = F.expr(
        "array("
        + ", ".join(
            f"named_struct('di', {di}, 'dj', {dj})"
            for dj in range(-steps, steps + 1)
            for di in range(-steps, steps + 1)
        )
        + ")"
    )
    o = F.explode(offsets).alias("o")
    ex = df.select("*", o)
    return ex.withColumn(
        out,
        pack_cell(F.col(f"{prefix}_i") + F.col("o.di"), F.col(f"{prefix}_j") + F.col("o.dj")),
    ).drop("o")


def with_salt(df: DataFrame, id_col: str, n_salt: int = 8, out: str = "salt") -> DataFrame:
    """Append a deterministic per-row salt in [0, n_salt) derived from
    ``id_col`` — stage one of two-stage skew handling for a hot
    aggregation or join key: group/join on (key, salt) first (a hot key
    spreads over n_salt reducers), then merge partials by key alone.
    Deterministic (hash of the row id, not rand()) so task retries and
    the DuckDB oracle see identical assignments."""
    return df.withColumn(
        out, F.pmod(F.hash(F.col(id_col)), F.lit(n_salt)).cast("int")
    )


def explode_salt(small: DataFrame, n_salt: int = 8, out: str = "salt") -> DataFrame:
    """Replicate the SMALL side of a salted join across every salt value
    so the salted equi-join on (key, salt) sees all pairs exactly once."""
    return small.withColumn(
        out, F.explode(F.array(*[F.lit(s).cast("int") for s in range(n_salt)]))
    )


def thin_points(
    points: DataFrame,
    resolution: float,
    record: str = "doc_id",
    max_per_cell: int = 1,
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """LidarThin / LidarThinHighDensity (lidar_analysis/lidar_thin.rs,
    lidar_thin_high_density.rs, engine form): keep the first
    ``max_per_cell`` points per resolution cell, deterministic by record
    id. One window over the cell key — scales as one hash shuffle."""
    from pyspark.sql import Window

    ci = F.floor(F.col(x) / F.lit(resolution)).cast("long")
    cj = F.floor(F.col(y) / F.lit(resolution)).cast("long")
    w = Window.partitionBy("_ci", "_cj").orderBy(record)
    return (
        points.withColumn("_ci", ci)
        .withColumn("_cj", cj)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= max_per_cell)
        .drop("_ci", "_cj", "_rn")
    )
