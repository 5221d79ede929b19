"""Iterative clustering + stream ordering + line-of-sight (the remaining
data-dependent iterative families of SURVEY.md §2.7/§2.8).

- kmeans: Lloyd's algorithm (KMeansClustering / ModifiedKMeansClustering,
  image_analysis/k_means_clustering.rs) as a driver-bounded loop: centers
  broadcast, assignment is a codegen argmin expression, update is one
  map-side-combinable groupBy. Deterministic init = first k rows by id.
- strahler_order (stream_network_analysis/strahler_stream_order.rs):
  over the stream-cell flow DAG — heads are order 1; a cell's order is
  the max upstream order, +1 when >= 2 upstream links share that max.
  Frontier iteration, converges in stream-DAG depth rounds.
- viewshed (terrain_analysis/viewshed.rs): per-viewpoint line-of-sight;
  the sampled rays are one explode + equi-join on the DEM + groupBy —
  fully distributed, no driver-resident DEM, no DEM broadcast.
- viewshed_sweep: the O(N log N) azimuth-bucketed max-angle sweep
  variant (one window pass instead of per-target ray samples) for
  large-radius runs; the sampled-ray engine stays the parity oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from whitebox_tools_spark.operators.graph import changed, fixpoint, size_hint
from whitebox_tools_spark.operators.gridding import GridConfig
from whitebox_tools_spark.localrel import local_df


def kmeans(
    df: DataFrame,
    features: list[str],
    k: int,
    record: str = "doc_id",
    max_iter: int = 20,
) -> tuple[DataFrame, list[list[float]]]:
    """Returns (assignments DataFrame (record, cluster), final centers).

    Centers init = the first k rows ordered by ``record`` (deterministic);
    each iteration: one broadcast argmin projection + one groupBy.
    """
    first = df.orderBy(record).limit(k).select(*features).collect()
    centers = [[float(v) for v in row] for row in first]

    def assign_expr(cs):
        best_d = None
        best_i = None
        for i, c in enumerate(cs):
            d = None
            for f, cv in zip(features, c):
                t = (F.col(f) - F.lit(cv)) * (F.col(f) - F.lit(cv))
                d = t if d is None else d + t
            if best_d is None:
                best_d, best_i = d, F.lit(0)
            else:
                better = d < best_d
                best_i = F.when(better, F.lit(i)).otherwise(best_i)
                best_d = F.when(better, d).otherwise(best_d)
        return best_i

    assigned = None
    for _ in range(max_iter):
        assigned = df.select(record, *features, assign_expr(centers).alias("cluster"))
        upd = assigned.groupBy("cluster").agg(
            *[F.avg(f).alias(f) for f in features]
        ).collect()
        new_centers = list(centers)
        for r in upd:
            # round to 6 dp: makes centers invariant to partition-order float
            # accumulation, so assignments are deterministic across cluster sizes
            new_centers[r["cluster"]] = [round(float(r[f]), 6) for f in features]
        if new_centers == centers:
            break
        centers = new_centers
    return assigned.select(record, "cluster"), centers


def strahler_order(
    streams: DataFrame, dirs: DataFrame, cfg: GridConfig, max_rounds: int = 100
) -> DataFrame:
    """Strahler order over stream cells (value == 1 in ``streams``),
    using a D8 direction-index raster (row, col, dir)."""
    from whitebox_tools_spark.operators.hydro import D8_DX, D8_DY

    s = streams.where(F.col("value") == 1.0).select("row", "col")
    cells = s.join(dirs, ["row", "col"], "inner")
    dx = F.array(*[F.lit(v) for v in D8_DX])
    dy = F.array(*[F.lit(v) for v in D8_DY])
    cid = (F.col("row") * cfg.cols + F.col("col")).alias("id")
    nodes = cells.select("row", "col", cid, "dir")
    tr = F.col("row") + F.element_at(dy, F.col("dir") + 1)
    tc = F.col("col") + F.element_at(dx, F.col("dir") + 1)
    # bounds-check the packed target id: an off-grid D8 direction at the
    # row edge would otherwise WRAP to a valid id on the adjacent row
    # (col = cols aliases to (row+1, 0)) and fabricate a stream edge
    down_all = (
        nodes.where(F.col("dir") >= 0)
        .where((tr >= 0) & (tr < cfg.rows) & (tc >= 0) & (tc < cfg.cols))
        .select(F.col("id").alias("a"), (tr * cfg.cols + tc).alias("b"))
    )
    # stream-to-stream edges only
    ids = nodes.select(F.col("id").alias("b"))
    down = down_all.join(ids, "b", "left_semi").localCheckpoint(eager=True)

    small = cfg.rows * cfg.cols <= 2_000_000

    def step(order):
        up = down.join(size_hint(order, small), down.a == order.id).select("b", "ord")
        agg = up.groupBy("b", "ord").agg(F.count(F.lit(1)).alias("cnt"))
        # per junction: order at the max upstream link, +1 on a tie —
        # max(struct(ord, cnt)) picks the cnt belonging to the max ord
        # (ord is unique per b after the groupBy), no self-join needed.
        new_ord_in = agg.groupBy("b").agg(
            F.max(F.struct(F.col("ord"), F.col("cnt"))).alias("m")
        ).select(
            F.col("b").alias("id"),
            F.when(F.col("m.cnt") >= 2, F.col("m.ord") + 1)
            .otherwise(F.col("m.ord"))
            .alias("in_ord"),
        )
        return (
            nodes.select("id")
            .join(size_hint(new_ord_in, small), "id", "left")
            .select("id", F.coalesce(F.col("in_ord"), F.lit(1)).alias("ord"))
        )

    order = fixpoint(
        nodes.select("id", F.lit(1).alias("ord")), step, changed("id", "ord"),
        max_rounds, "strahler_order",
    )
    return nodes.join(order, "id").select(
        "row", "col", F.col("ord").cast("double").alias("value")
    )


def viewshed(
    dem: DataFrame,
    cfg: GridConfig,
    viewpoints: list[tuple[int, int]],
    station_height: float = 2.0,
) -> DataFrame:
    """Visible (1.0) / hidden (0.0) per cell per viewpoint
    (terrain_analysis/viewshed.rs, sampled-ray engine semantics): for a
    target at Chebyshev distance n, the ray is resampled at j/n
    (floor(x + 0.5) nearest-cell) and the cell is hidden when the max
    blocking angle (z_path - z0)/(n * t) exceeds the target angle
    (z_t - z0)/n. Fully distributed: small viewpoint frame broadcasts,
    ray samples are one explode + equi-join on the DEM + groupBy — the
    DEM never materializes on the driver and never broadcasts, so the
    plan survives a 100x DEM (shuffle partitions by cell keys carry all
    the state)."""
    spark = dem.sparkSession
    vp_df = local_df(
        spark,
        [(i, int(r), int(c)) for i, (r, c) in enumerate(viewpoints)],
        columns=["vp", "vr", "vc"],
    ).selectExpr("CAST(vp AS INT) AS vp", "vr", "vc")
    # viewpoint elevations: NaN/missing viewpoint cells drop (no output)
    vpz = vp_df.join(
        dem, (dem["row"] == vp_df["vr"]) & (dem["col"] == vp_df["vc"])
    ).select("vp", "vr", "vc", (F.col("value") + F.lit(station_height)).alias("z0"))
    n = F.greatest(
        F.abs(F.col("row") - F.col("vr")), F.abs(F.col("col") - F.col("vc"))
    )
    tgt = (
        dem.select("row", "col", F.col("value").alias("tz"))
        .crossJoin(F.broadcast(vpz))
        .withColumn("n", n)
    )
    stp = (
        tgt.where(F.col("n") >= 2)
        .withColumn("i", F.explode(F.sequence(F.lit(1).cast("long"), F.col("n") - 1)))
        .withColumn("tt", F.col("i").cast("double") / F.col("n"))
    )
    pth = stp.select(
        "vp", "row", "col", "n", "z0", "tt",
        F.floor(F.col("vr") + (F.col("row") - F.col("vr")) * F.col("tt") + 0.5)
        .cast("long").alias("ri"),
        F.floor(F.col("vc") + (F.col("col") - F.col("vc")) * F.col("tt") + 0.5)
        .cast("long").alias("ci"),
    )
    pz = dem.select(
        F.col("row").alias("ri"), F.col("col").alias("ci"), F.col("value").alias("pz")
    )
    ang = (
        pth.join(pz, ["ri", "ci"])
        .groupBy("vp", "row", "col")
        .agg(F.max((F.col("pz") - F.col("z0")) / (F.col("n") * F.col("tt"))).alias("mx"))
    )
    out = tgt.join(ang, ["vp", "row", "col"], "left")
    hidden = F.col("mx") > (F.col("tz") - F.col("z0")) / F.greatest(
        F.col("n"), F.lit(1)
    ) + F.lit(1e-12)
    return out.select(
        "vp", "row", "col",
        F.when(hidden, F.lit(0.0)).otherwise(F.lit(1.0)).alias("value"),
    )


def viewshed_sweep(
    dem: DataFrame,
    cfg: GridConfig,
    viewpoints: list[tuple[int, int]],
    station_height: float = 2.0,
    buckets_per_side: int | None = None,
) -> DataFrame:
    """Azimuth-bucketed max-angle sweep viewshed — the O(N log N) scale
    path next to :func:`viewshed`'s sampled-ray parity engine (which is
    O(N^1.5) samples per viewpoint).

    Directions from each viewpoint are quantized into azimuth buckets
    (perimeter parameterization off = minor/major — IEEE division/floor
    only, no atan2, so a SQL oracle reproduces it bit-identically). A
    cell contributes as a BLOCKER to every bucket its angular extent
    (halfwidth 0.5/n in off units) covers — exploded rows, O(nb/n) per
    cell, O(N) total — and as a TARGET to its single center bucket with
    angle (z - z0)/chebyshev_dist. A target is hidden iff the running
    max blocker angle over STRICTLY closer cells in its bucket exceeds
    its own angle: one window over (vp, bucket) ordered by distance —
    one shuffle + one sort, no per-target ray replay. Agreement with the
    sampled-ray engine is approximate by construction (bucket intervals
    vs nearest-cell ray resampling) — pinned by a tolerance test."""
    spark = dem.sparkSession
    nb = buckets_per_side or 2 * max(cfg.rows, cfg.cols)
    vp_df = local_df(
        spark,
        [(i, int(r), int(c)) for i, (r, c) in enumerate(viewpoints)],
        columns=["vp", "vr", "vc"],
    ).selectExpr("CAST(vp AS INT) AS vp", "vr", "vc")
    vpz = vp_df.join(
        dem, (dem["row"] == vp_df["vr"]) & (dem["col"] == vp_df["vc"])
    ).select("vp", "vr", "vc", (F.col("value") + F.lit(station_height)).alias("z0"))
    tgt = dem.select("row", "col", F.col("value").alias("tz")).crossJoin(
        F.broadcast(vpz)
    )
    dr = F.col("row") - F.col("vr")
    dc = F.col("col") - F.col("vc")
    n = F.greatest(F.abs(dr), F.abs(dc))
    horiz = F.abs(dc) >= F.abs(dr)
    side = (
        F.when(horiz & (dc > 0), F.lit(0))
        .when(horiz, F.lit(1))
        .when(dr > 0, F.lit(2))
        .otherwise(F.lit(3))
    )
    off = F.when(
        horiz, dr.cast("double") / F.abs(dc).cast("double")
    ).otherwise(dc.cast("double") / F.abs(dr).cast("double"))
    ang = (F.col("tz") - F.col("z0")) / F.col("n")
    base = (
        tgt.withColumn("n", n)
        .where(F.col("n") >= 1)
        .withColumn("side", side)
        .withColumn("off", off)
        .withColumn("ang", ang)
    )

    def _b(o):  # bucket index within a side, clamped
        return F.greatest(
            F.lit(0),
            F.least(
                F.floor((o + F.lit(1.0)) / F.lit(2.0) * F.lit(float(nb))),
                F.lit(nb - 1),
            ),
        )

    # a resampled ray (floor(x+0.5)) lands in a blocker cell when it
    # passes within 0.5 of the cell center at that major distance ->
    # halfwidth 0.5/n in off units matches the parity engine's geometry
    half = F.lit(0.5) / F.col("n").cast("double")
    blockers = base.select(
        "vp", "n", "ang", "side",
        F.explode(
            F.sequence(_b(F.col("off") - half), _b(F.col("off") + half))
        ).alias("b"),
    ).select(
        "vp", "n", "ang",
        (F.col("side") * F.lit(nb) + F.col("b")).alias("bucket"),
        F.lit(None).cast("long").alias("row"),
        F.lit(None).cast("long").alias("col"),
        F.lit(1).alias("is_b"),
    )
    targets = base.select(
        "vp", "n", "ang",
        (F.col("side") * F.lit(nb) + _b(F.col("off"))).alias("bucket"),
        "row", "col", F.lit(0).alias("is_b"),
    )
    u = blockers.unionByName(targets)
    w = (
        Window.partitionBy("vp", "bucket")
        .orderBy("n")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    swept = u.withColumn(
        "mx", F.max(F.when(F.col("is_b") == 1, F.col("ang"))).over(w)
    ).where(F.col("is_b") == 0)
    hidden = F.col("mx") > F.col("ang") + F.lit(1e-12)
    vis = swept.select(
        "vp", "row", "col",
        F.when(hidden, F.lit(0.0)).otherwise(F.lit(1.0)).alias("value"),
    )
    self_cells = tgt.where(n == 0).select(
        "vp", "row", "col", F.lit(1.0).alias("value")
    )
    return vis.unionByName(self_cells)


def modified_kmeans(
    df: DataFrame,
    features: list[str],
    k0: int,
    merge_dist: float,
    record: str = "doc_id",
    max_iter: int = 20,
) -> tuple[DataFrame, list]:
    """ModifiedKMeansClustering (image_analysis/modified_k_means.rs,
    engine form): Lloyd's iterations starting from k0 centers, but after
    every update each cluster is RELABELLED to the SMALLEST cluster id
    within ``merge_dist`` of its center — one pass per iteration, no
    transitive chaining, and the target id may itself have merged this
    same pass (its center survives because something merged INTO it:
    survivors = the set of relabel targets). The DuckDB oracle
    (catalog_more._modified_kmeans_sql) transcribes exactly this rule.
    Deterministic: init = first k0 rows by ``record``, centers rounded to
    6 dp per round (see kmeans)."""
    first = df.orderBy(record).limit(k0).select(*features).collect()
    centers = {i: [float(v) for v in row] for i, row in enumerate(first)}

    def assign_expr(cs: dict):
        best_d = None
        best_i = None
        for i in sorted(cs):
            c = cs[i]
            d = None
            for f, cv in zip(features, c):
                t = (F.col(f) - F.lit(cv)) * (F.col(f) - F.lit(cv))
                d = t if d is None else d + t
            if best_d is None:
                best_d, best_i = d, F.lit(i)
            else:
                better = d < best_d
                best_i = F.when(better, F.lit(i)).otherwise(best_i)
                best_d = F.when(better, d).otherwise(best_d)
        return best_i

    assigned = None
    for _ in range(max_iter):
        assigned = df.select(record, *features, assign_expr(centers).alias("cluster"))
        upd = assigned.groupBy("cluster").agg(
            *[F.avg(f).alias(f) for f in features]
        ).collect()
        new_centers = dict(centers)
        for r in upd:
            new_centers[r["cluster"]] = [round(float(r[f]), 6) for f in features]
        # one merge pass: cluster i -> min j <= i with |c_i - c_j| < merge_dist
        remap = {}
        ids = sorted(new_centers)
        for i in ids:
            tgt = i
            for j in ids:
                if j >= i:
                    break
                d2 = sum(
                    (a - b) * (a - b)
                    for a, b in zip(new_centers[i], new_centers[j])
                )
                if d2 < merge_dist * merge_dist:
                    tgt = j
                    break
            remap[i] = tgt
        merged = {remap[i]: new_centers[remap[i]] for i in ids}
        if merged == centers:
            centers = merged
            break
        centers = merged
    assigned = df.select(record, *features, assign_expr(centers).alias("cluster"))
    return assigned.select(record, "cluster"), centers
