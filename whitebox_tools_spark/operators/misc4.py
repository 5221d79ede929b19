"""Batch: cost pathway, feathered mosaic, simplified geomorphons."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from whitebox_tools_spark.operators.graph import checkpoint_nostats, expand
from whitebox_tools_spark.operators.gridding import GridConfig


def cost_pathway(
    source: DataFrame, cost: DataFrame, destinations: DataFrame,
    cfg: GridConfig, cost_rounds: int = 64, max_steps: int = 400,
) -> DataFrame:
    """CostPathway (gis_analysis/cost_pathway.rs): cells on the
    least-cost path from each destination cell back to a source —
    follow the accumulated-cost surface downhill via each cell's
    minimum-cost neighbour (ties to the smallest cell id) until a
    source (acc = 0) is reached. Output: path cells as 1.0."""
    from whitebox_tools_spark.operators.cost import cost_distance, _pairs

    acc = cost_distance(source, cost, cfg, max_rounds=cost_rounds)
    cells = (
        acc.join(cost.select("row", "col", F.col("value").alias("c")), ["row", "col"])
        .select(
            "row", "col", (F.col("row") * cfg.cols + F.col("col")).alias("id"),
            F.col("value").alias("acc"), "c",
        )
        .localCheckpoint(eager=True)
    )
    pairs = _pairs(cells, cfg)
    # backlink parity (cost_pathway.rs): the next cell is the neighbour
    # the accumulated cost came FROM — argmin of acc(b) + step(a, b)
    # (equal to acc(a) at the optimum), not argmin of acc(b) alone;
    # ties to the smallest neighbour id (the reference's tie falls to
    # Dijkstra pop order, which a set-based engine cannot reproduce)
    step = (F.col("ca") + F.col("cb")) / 2.0 * F.col("dist")
    nxt = (
        pairs.join(cells.select(F.col("id").alias("a"), F.col("c").alias("ca")), "a")
        .join(
            cells.select(
                F.col("id").alias("b"), F.col("acc").alias("bacc"), F.col("c").alias("cb")
            ),
            "b",
        )
        .withColumn("walk_key", F.col("bacc") + step)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("a").orderBy(F.col("walk_key").asc(), F.col("b").asc())
            ),
        )
        .where(F.col("rn") == 1)
        .select(F.col("a").alias("id"), F.col("b").alias("nxt"))
        .localCheckpoint(eager=True)
    )
    dest_ids = destinations.select(
        (F.col("row") * cfg.cols + F.col("col")).alias("id")
    )
    # Pointer-doubling reachability over the functional successor graph:
    # source cells (acc = 0) become self-loops, every other cell has
    # exactly one downhill successor, so the visited set R and the jump
    # table J (2^k-step successor) close the walk in ceil(log2(max_steps))
    # rounds — no O(path length) driver loop.
    succ = (
        cells.select("id", "acc")
        .join(nxt, "id", "left")
        .select(
            "id",
            F.when(F.col("acc") <= 0.0, F.col("id"))
            .otherwise(F.coalesce("nxt", F.col("id")))
            .alias("nxt"),
        )
        .localCheckpoint(eager=True)
    )
    jump = None

    def step(_frontier, on):
        # round k steps every visited cell by the 2^k-step jump; empty once
        # all walks have reached their source self-loops
        nonlocal jump
        if jump is None:
            jump = succ
        else:
            jx = jump.select(F.col("id").alias("jid"), F.col("nxt").alias("mid"))
            jy = jump.select(F.col("id").alias("mid"), F.col("nxt").alias("jnxt"))
            jump = (
                jx.join(jy, "mid")
                .select(F.col("jid").alias("id"), F.col("jnxt").alias("nxt"))
                .transform(checkpoint_nostats)
            )
        stepped = on.join(jump, "id").select(F.col("nxt").alias("id"))
        return stepped.distinct().join(on, "id", "left_anti")

    on = expand(
        dest_ids.distinct().localCheckpoint(eager=True), step,
        max(1, math.ceil(math.log2(max_steps))), "cost_pathway",
    )
    return cells.join(on, "id", "left_semi").select(
        "row", "col", F.lit(1.0).alias("value")
    )


def mosaic_with_feathering(
    a: DataFrame, b: DataFrame, cfg: GridConfig, power: float = 2.0
) -> DataFrame:
    """MosaicWithFeathering (image_analysis/mosaic_with_feathering.rs):
    in the overlap, blend v = (wa*va + wb*vb)/(wa + wb) with
    w = d^power, d the euclidean distance to the raster's own nearest
    missing in-grid cell (or the grid edge, whichever is nearer);
    single-coverage cells pass through."""
    def dist_to_edge(r: DataFrame, tag: str) -> DataFrame:
        # distance to the raster's own nearest missing cell via the
        # distributed separable EDT (hydro.euclidean_distance) — never a
        # cells x missing-cells cartesian
        from whitebox_tools_spark.operators.hydro import euclidean_distance

        spark = r.sparkSession
        rows = spark.range(cfg.rows).select(F.col("id").alias("row"))
        cols = spark.range(cfg.cols).select(F.col("id").alias("col"))
        grid = rows.crossJoin(cols)
        ind = grid.join(
            r.select("row", "col", F.lit(1.0).alias("p")), ["row", "col"], "left"
        ).select(
            "row", "col",
            F.when(F.col("p").isNull(), 1.0).otherwise(0.0).alias("value"),
        )
        dmin = euclidean_distance(ind, cfg).select(
            "row", "col", F.col("value").alias("dm")
        )
        edge = F.least(
            F.col("row") + 1, F.col("col") + 1,
            F.lit(cfg.rows) - F.col("row"), F.lit(cfg.cols) - F.col("col"),
        ).cast("double") * cfg.res_x
        return r.join(dmin, ["row", "col"], "left").select(
            "row", "col", F.col("value").alias(f"v_{tag}"),
            F.least(F.coalesce("dm", F.lit(float("inf"))), edge).alias(f"d_{tag}"),
        )

    da = dist_to_edge(a, "a")
    db = dist_to_edge(b, "b")
    j = da.join(db, ["row", "col"], "full")
    wa = F.pow(F.col("d_a"), F.lit(power))
    wb = F.pow(F.col("d_b"), F.lit(power))
    blended = (wa * F.col("v_a") + wb * F.col("v_b")) / (wa + wb)
    return j.select(
        "row", "col",
        F.when(F.col("v_a").isNotNull() & F.col("v_b").isNotNull(), blended)
        .otherwise(F.coalesce("v_a", "v_b"))
        .alias("value"),
    )


GEO_FORMS = {
    # (n_plus, n_minus) -> form code, the standard geomorphon 10-form
    # lookup (flat=1, peak=2, ridge=3, shoulder=4, spur=5, slope=6,
    # hollow=7, footslope=8, valley=9, pit=10), simplified majority table
}


def geomorphons(
    raster: DataFrame, cfg: GridConfig, max_dist: float = 500.0,
    flat_deg: float = 1.0,
) -> DataFrame:
    """Geomorphons (terrain_analysis/geomorphons.rs, simplified engine
    form): per cell, 8 azimuth rays sampled with the engine ray rule;
    for each direction s = +1 if the max elevation angle > flat, -1 if
    the max depression angle > flat and exceeds it, else 0; the
    (count+, count-) pair maps to the standard 10-form table."""
    spark = raster.sparkSession
    k_max = int(max_dist / cfg.res_x)
    c = raster.select(F.col("row").alias("r0"), F.col("col").alias("c0"), "value")
    per_dir = []
    for d in range(8):
        az = d * 45.0
        azr = math.radians(az)
        ddr = -math.cos(azr)
        ddc = math.sin(azr)
        steps = spark.range(1, k_max + 1).select(F.col("id").alias("k"))
        smp = c.crossJoin(steps).select(
            "r0", "c0", "value", "k",
            F.floor(F.col("r0") + F.col("k").cast("double") * ddr + 0.5).alias("sr"),
            F.floor(F.col("c0") + F.col("k").cast("double") * ddc + 0.5).alias("sc"),
        )
        jj = smp.join(
            raster.select(
                F.col("row").alias("sr"), F.col("col").alias("sc"),
                F.col("value").alias("zs"),
            ),
            ["sr", "sc"],
        )
        ang = F.degrees(
            F.atan((F.col("zs") - F.col("value")) / (F.col("k").cast("double") * cfg.res_x))
        )
        g = jj.groupBy("r0", "c0").agg(
            F.max(ang).alias("up"), F.min(ang).alias("dn")
        )
        s = (
            F.when((F.col("up") > flat_deg) & (F.col("up") > -F.col("dn")), 1)
            .when((-F.col("dn") > flat_deg) & (-F.col("dn") > F.col("up")), -1)
            .otherwise(0)
        )
        per_dir.append(
            g.select("r0", "c0", s.alias(f"s{d}"))
        )
    j = per_dir[0]
    for p in per_dir[1:]:
        j = j.join(p, ["r0", "c0"])
    np_ = sum(F.when(F.col(f"s{d}") == 1, 1).otherwise(0) for d in range(8))
    nm_ = sum(F.when(F.col(f"s{d}") == -1, 1).otherwise(0) for d in range(8))
    # simplified form classification by (n+, n-)
    form = (
        F.when((np_ == 0) & (nm_ == 0), 1)          # flat
        .when(nm_ >= 7, 2)                           # peak (all lower)
        .when((nm_ >= 5) & (np_ == 0), 3)            # ridge
        .when((nm_ >= 3) & (np_ <= 1), 4)            # shoulder
        .when(nm_ > np_, 5)                          # spur
        .when(np_ >= 7, 10)                          # pit (all higher)
        .when((np_ >= 5) & (nm_ == 0), 9)            # valley
        .when((np_ >= 3) & (nm_ <= 1), 8)            # footslope
        .when(np_ > nm_, 7)                          # hollow
        .otherwise(6)                                # slope
    )
    return j.select(
        F.col("r0").alias("row"), F.col("c0").alias("col"),
        form.cast("double").alias("value"),
    )
