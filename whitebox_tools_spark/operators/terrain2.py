"""Terrain/hydro quick-wins batch 3: landform classification, pit
breaching, directional scans, multiscale deviation, hypsometry, and
flow-path averages — all compositions over machinery that already
exists (stencil runner, D8 graph, distance transform, window sums).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from whitebox_tools_spark.operators.focal import focal_apply, horn_fxfy
from whitebox_tools_spark.operators.graph import changed, fixpoint
from whitebox_tools_spark.operators.gridding import GridConfig
from whitebox_tools_spark.operators.hydro import D8_DX, D8_DY
from whitebox_tools_spark.operators.hydro2 import d8_graph
from whitebox_tools_spark.operators.terrain import _ring8


def pennock_landform_class(
    raster: DataFrame,
    cfg: GridConfig,
    slope_threshold: float = 3.0,
    prof_threshold: float = 0.1,
    plan_threshold: float = 0.0,
    z_factor: float = 1.0,
    tile_size: int = 128,
) -> DataFrame:
    """PennockLandformClass (pennock_landform_class.rs:209-211 +
    classification block): slope/plan/profile curvature thresholds ->
    classes 1-7 (flat cells p == 0 stay NoData, as in the reference)."""

    def stencil(block, valid, base_r, base_c, cfg_):
        z = block * z_factor
        n = [np.where(vm, sh * z_factor, z) for sh, vm in _ring8(block, valid)]
        cs2 = cfg_.res_x * 2.0
        css = cfg_.res_x * cfg_.res_x
        eight = cfg_.res_x * 8.0
        with np.errstate(invalid="ignore", divide="ignore"):
            zx = (n[1] - n[5]) / cs2
            zy = (n[7] - n[3]) / cs2
            zxx = (n[1] - 2.0 * z + n[5]) / css
            zyy = (n[7] - 2.0 * z + n[3]) / css
            zxy = (-n[6] + n[0] + n[4] - n[2]) / (css * 4.0)
            zx2, zy2 = zx * zx, zy * zy
            p = zx2 + zy2
            q = p + 1.0
            fy = (n[6] - n[4] + 2.0 * (n[7] - n[3]) + n[0] - n[2]) / eight
            fx = (n[2] - n[4] + 2.0 * (n[1] - n[5]) + n[0] - n[6]) / eight
            slope = np.degrees(np.arctan(np.sqrt(fx * fx + fy * fy)))
            plan = -1.0 * np.degrees(
                (zxx * zy2 - 2.0 * zxy * zx * zy + zyy * zx2) / p ** 1.5
            )
            prof = -1.0 * np.degrees(
                (zxx * zx2 - 2.0 * zxy * zx * zy + zyy * zy2) / (p * q ** 1.5)
            )
        st, pt, lt = slope_threshold, prof_threshold, plan_threshold
        out = np.full_like(block, np.nan)
        steep = slope > st
        out = np.where((prof < -pt) & (plan <= -lt) & steep, 1.0, out)
        out = np.where((prof < -pt) & (plan > lt) & steep & np.isnan(out), 2.0, out)
        out = np.where((prof > pt) & (plan <= lt) & steep & np.isnan(out), 3.0, out)
        out = np.where((prof > pt) & (plan > lt) & steep & np.isnan(out), 4.0, out)
        out = np.where(
            (prof >= -pt) & (prof < pt) & steep & (plan <= -lt) & np.isnan(out), 5.0, out
        )
        out = np.where(
            (prof >= -pt) & (prof < pt) & steep & (plan > lt) & np.isnan(out), 6.0, out
        )
        out = np.where((slope <= st) & np.isnan(out), 7.0, out)
        return np.where(valid & (p > 0.0), out, np.nan)

    return focal_apply(raster, cfg, stencil, 1, tile_size)


def breach_single_cell_pits(raster: DataFrame, cfg: GridConfig) -> DataFrame:
    """BreachSingleCellPits (breach_pits.rs:194-221): for every
    single-cell pit, each lower ring-2 cell carves the intermediate
    ring-1 cell to (z_pit + z2)/2. The reference's sequential scan makes
    the last write win; here the winner is the (pit id, probe index)
    maximum — deterministic under any partitioning."""
    dx2 = [2, 2, 2, 2, 2, 1, 0, -1, -2, -2, -2, -2, -2, -1, 0, 1]
    dy2 = [-2, -1, 0, 1, 2, 2, 2, 2, 2, 1, 0, -1, -2, -2, -2, -2]
    breach = [0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6, 7, 0]
    cells = raster.select(
        "row", "col", "value", (F.col("row") * cfg.cols + F.col("col")).alias("id")
    ).localCheckpoint(eager=True)
    ring1 = F.array(
        *[F.struct(F.lit(dy).alias("dr"), F.lit(dx).alias("dc")) for dx, dy in zip(D8_DX, D8_DY)]
    )
    ex = cells.select("id", "row", "col", "value", F.explode(ring1).alias("o"))
    nb = ex.join(
        cells.select(
            F.col("row").alias("nr"), F.col("col").alias("nc"), F.col("value").alias("nv")
        ),
        (F.col("row") + F.col("o.dr") == F.col("nr"))
        & (F.col("col") + F.col("o.dc") == F.col("nc")),
        "left",
    )
    pit = nb.groupBy("id", "row", "col", "value").agg(
        F.sum(F.when(F.col("nv") < F.col("value"), 1).otherwise(0)).alias("nlower")
    ).where(F.col("nlower") == 0)
    probes = F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                F.lit(dy2[i]).alias("dr2"), F.lit(dx2[i]).alias("dc2"),
                F.lit(D8_DY[breach[i]]).alias("br"), F.lit(D8_DX[breach[i]]).alias("bc"),
            )
            for i in range(16)
        ]
    )
    px = pit.select("id", "row", "col", "value", F.explode(probes).alias("p"))
    hit = px.join(
        cells.select(
            F.col("row").alias("r2"), F.col("col").alias("c2"), F.col("value").alias("z2")
        ),
        (F.col("row") + F.col("p.dr2") == F.col("r2"))
        & (F.col("col") + F.col("p.dc2") == F.col("c2")),
    ).where(F.col("z2") < F.col("value"))
    writes = hit.select(
        (F.col("row") + F.col("p.br")).alias("row"),
        (F.col("col") + F.col("p.bc")).alias("col"),
        ((F.col("value") + F.col("z2")) / 2.0).alias("wv"),
        F.col("id").alias("pit_id"),
        F.col("p.i").alias("probe"),
    )
    w = Window.partitionBy("row", "col").orderBy(
        F.col("pit_id").desc(), F.col("probe").desc()
    )
    winner = writes.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return (
        cells.join(winner.select("row", "col", "wv"), ["row", "col"], "left")
        .select("row", "col", F.coalesce("wv", F.col("value")).alias("value"))
    )


def find_parallel_flow(dirs: DataFrame, streams: DataFrame, cfg: GridConfig) -> DataFrame:
    """FindParallelFlow (find_parallel_flow.rs:235-266): a stream cell is
    parallel (1.0) iff some neighbour n (excluding the cell's own
    outflow target and cells flowing into it) is a stream cell with the
    same flow direction; else 0.0."""
    sc = streams.where(F.col("value") == 1.0).select("row", "col")
    d = sc.join(dirs, ["row", "col"]).select(
        "row", "col", "dir", (F.col("row") * cfg.cols + F.col("col")).alias("id")
    )
    offs = F.array(
        *[
            F.struct(F.lit(i).alias("i"), F.lit(D8_DY[i]).alias("dr"), F.lit(D8_DX[i]).alias("dc"))
            for i in range(8)
        ]
    )
    ex = d.select("id", "row", "col", "dir", F.explode(offs).alias("o"))
    nb = ex.join(
        d.select(
            F.col("row").alias("nr"), F.col("col").alias("nc"), F.col("dir").alias("ndir")
        ),
        (F.col("row") + F.col("o.dr") == F.col("nr"))
        & (F.col("col") + F.col("o.dc") == F.col("nc")),
    )
    # exclude the outflow direction (dir == i) and inflow neighbours
    # (neighbour's dir points back: ndir == (i + 4) % 8)
    par = nb.where(
        (F.col("dir") != F.col("o.i"))
        & (F.col("ndir") == F.col("dir"))
        & (F.col("ndir") != F.pmod(F.col("o.i") + 4, F.lit(8)))
    ).select("id").distinct()
    return d.join(par.withColumnRenamed("id", "pid"), d.id == F.col("pid"), "left").select(
        "row", "col",
        F.when(F.col("pid").isNotNull(), 1.0).otherwise(0.0).alias("value"),
    )


RHO_A, RHO_B = 1664525, 1013904223
_M32 = 2**32


def rho8_pointer(raster: DataFrame, cfg: GridConfig, tile_size: int = 128) -> DataFrame:
    """Rho8Pointer (rho8_pointer.rs:240-263): D8 with stochastic diagonal
    distances (z-zn)/(2 - rho); rho is a counter-based hash of
    (cell, direction) in [0,1) — deterministic under any partitioning,
    unlike the reference's sequential thread_rng."""

    def stencil(block, valid, base_r, base_c, cfg_):
        size_r, size_c = block.shape
        rows_idx = np.arange(base_r, base_r + size_r)[:, None] * cfg_.cols
        cell = rows_idx + np.arange(base_c, base_c + size_c)[None, :]
        best = np.full_like(block, -np.inf)
        out = np.full_like(block, -1.0)
        for i, (sh, vm) in enumerate(_ring8(block, valid)):
            h = (cell * 8 + i) * RHO_A + RHO_B
            rho = (h % _M32).astype(np.float64) / float(_M32)
            if i % 2 == 0:  # diagonals in D8 order NE,SE,SW,NW
                denom = 2.0 - rho
            else:
                denom = np.ones_like(rho)
            with np.errstate(invalid="ignore"):
                slope = (block - sh) / denom
                better = vm & (slope > best) & (slope > 0.0)
            best = np.where(better, slope, best)
            out = np.where(better, float(2 ** i), out)
        out = np.where(np.isfinite(best) & (best > 0.0), out, 0.0)
        return np.where(valid, out, np.nan)

    return focal_apply(raster, cfg, stencil, 1, tile_size)


def elev_above_pit(raster: DataFrame, cfg: GridConfig, tile_size: int = 128) -> DataFrame:
    """ElevAbovePit (terrain_analysis/elev_above_pit.rs): z minus the
    elevation of the terminal (pit/edge) cell of the cell's D8 path;
    terminal found by pointer doubling."""
    nodes, edges = d8_graph(raster, cfg, tile_size)
    nxt = (
        nodes.join(edges.select(F.col("a").alias("id"), "b"), "id", "left")
        .select("id", F.coalesce("b", F.col("id")).alias("nxt"))
        .localCheckpoint(eager=True)
    )

    def hop(nxt):
        return nxt.alias("x").join(
            nxt.alias("y").select(F.col("y.id").alias("nid"), F.col("y.nxt").alias("n2")),
            F.col("x.nxt") == F.col("nid"),
        ).select(F.col("x.id").alias("id"), F.col("n2").alias("nxt"))

    nxt = fixpoint(nxt, hop, changed("id", "nxt"), 32, "elev_above_pit")
    z = raster.select(
        (F.col("row") * cfg.cols + F.col("col")).alias("id"), F.col("value").alias("z")
    )
    tz = z.select(F.col("id").alias("nxt"), F.col("z").alias("tz"))
    return (
        nodes.join(nxt, "id").join(z, "id").join(tz, "nxt")
        .select("row", "col", (F.col("z") - F.col("tz")).alias("value"))
    )


def max_elevation_deviation(
    raster: DataFrame,
    cfg: GridConfig,
    radii: tuple[int, ...] = (1, 2, 3),
    tile_size: int = 128,
    stat: str = "dev",
) -> DataFrame:
    """MaxElevationDeviation (stat='dev', max_elevation_deviation.rs) /
    MaxDifferenceFromMean (stat='diff', max_difference_from_mean.rs):
    per cell, the DevFromMeanElev (resp. DiffFromMeanElev) value of
    largest magnitude across the window radii, plus the radius it came
    from; ties take the smallest radius."""
    from whitebox_tools_spark.operators.terrain import (
        dev_from_mean_elev, diff_from_mean_elev,
    )

    base = dev_from_mean_elev if stat == "dev" else diff_from_mean_elev
    parts = []
    for r in radii:
        d = base(raster, cfg, rx=r, ry=r, tile_size=tile_size)
        parts.append(d.select("row", "col", "value", F.lit(r).alias("scale")))
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    w = Window.partitionBy("row", "col").orderBy(
        F.abs("value").desc(), F.col("scale").asc()
    )
    return (
        u.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("row", "col", "value", F.col("scale").cast("double").alias("scale"))
    )


def hypsometric_analysis(raster: DataFrame, bins: int = 20) -> DataFrame:
    """HypsometricAnalysis (hypsometric_analysis.rs): the hypsometric
    curve sampled at ``bins`` relative-elevation thresholds t = i/bins:
    proportion of cells with (z - min)/(max - min) >= t."""
    stats = raster.agg(
        F.min("value").alias("mn"), F.max("value").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    )
    rel = raster.crossJoin(F.broadcast(stats)).select(
        ((F.col("value") - F.col("mn")) / (F.col("mx") - F.col("mn"))).alias("rel"),
        "n",
    )
    ts = rel.sparkSession.range(bins + 1).select(
        (F.col("id").cast("double") / bins).alias("t"), F.col("id").alias("bin")
    )
    return (
        rel.crossJoin(F.broadcast(ts))
        .groupBy("bin", "t")
        .agg(
            (
                F.sum(F.when(F.col("rel") >= F.col("t"), 1).otherwise(0))
                / F.any_value("n").cast("double")
            ).alias("area_prop")
        )
        .select("bin", "t", "area_prop")
    )


def slope_vs_elevation_plot(
    raster: DataFrame, cfg: GridConfig, bins: int = 20, tile_size: int = 128
) -> DataFrame:
    """SlopeVsElevationPlot (slope_vs_elevation_plot.rs): mean slope per
    relative-elevation bin (bin = floor(rel * bins), top clamped)."""
    from whitebox_tools_spark.operators.focal import slope as slope_op

    sl = slope_op(raster, cfg, tile_size=tile_size).select(
        "row", "col", F.col("value").alias("slope")
    )
    stats = raster.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    j = raster.join(sl, ["row", "col"]).crossJoin(F.broadcast(stats))
    b = F.least(
        F.floor((F.col("value") - F.col("mn")) / (F.col("mx") - F.col("mn")) * bins),
        F.lit(bins - 1),
    )
    return (
        j.groupBy(b.cast("long").alias("bin"))
        .agg(
            (F.sum("slope") / F.count(F.lit(1))).alias("mean_slope"),
            F.count(F.lit(1)).alias("n_cells"),
        )
    )


def average_upslope_flowpath_length(
    raster: DataFrame, cfg: GridConfig, max_rounds: int = 100, tile_size: int = 128
) -> DataFrame:
    """AverageUpslopeFlowpathLength (average_upslope_flowpath_length.rs):
    mean D8 flow-path length from every upslope cell (self excluded);
    0 where nothing is upslope. cnt/N propagate in one joint fixpoint:
    N(b) = sum(N(a) + cnt(a)*len), cnt(b) = 1 + sum(cnt(a))."""
    nodes, edges = d8_graph(raster, cfg, tile_size)
    cur = nodes.select(
        "id", F.lit(0.0).alias("nsum"), F.lit(1.0).alias("cnt")
    ).localCheckpoint(eager=True)

    def step(cur):
        up = (
            edges.join(cur, edges.a == cur.id)
            .groupBy("b")
            .agg(
                F.sum(F.col("nsum") + F.col("cnt") * F.col("len")).alias("s"),
                F.sum("cnt").alias("c"),
            )
        )
        return (
            nodes.select("id")
            .join(up.withColumnRenamed("b", "id"), "id", "left")
            .select(
                "id",
                F.coalesce("s", F.lit(0.0)).alias("nsum"),
                (F.lit(1.0) + F.coalesce("c", F.lit(0.0))).alias("cnt"),
            )
        )

    cur = fixpoint(
        cur, step, changed("id", "nsum", "cnt"), max_rounds, "average_upslope_flowpath_length"
    )
    return nodes.join(cur, "id").select(
        "row",
        "col",
        F.when(F.col("cnt") > 1.0, F.col("nsum") / (F.col("cnt") - 1.0))
        .otherwise(0.0)
        .alias("value"),
    )


def horizon_angle(
    raster: DataFrame,
    cfg: GridConfig,
    azimuth: float = 315.0,
    max_dist: float = 500.0,
    tile_size: int = 128,
) -> DataFrame:
    """HorizonAngle (terrain_analysis/horizon_angle.rs, engine sampling
    semantics): max elevation angle (degrees) along the azimuth ray,
    sampled every res_x map units with floor(x+0.5) cell snapping (the
    viewshed rule); cells with no valid sample get -90."""
    spark = raster.sparkSession
    k_max = int(max_dist / cfg.res_x)
    az = math.radians(azimuth)
    ddr = -math.cos(az)  # +row is south; north = azimuth 0
    ddc = math.sin(az)
    steps = spark.range(1, k_max + 1).select(F.col("id").alias("k"))
    c = raster.select(F.col("row").alias("r0"), F.col("col").alias("c0"), "value")
    smp = c.crossJoin(steps).select(
        "r0", "c0", "value", "k",
        F.floor(F.col("r0") + F.col("k").cast("double") * ddr + 0.5).alias("sr"),
        F.floor(F.col("c0") + F.col("k").cast("double") * ddc + 0.5).alias("sc"),
    )
    j = smp.join(
        raster.select(
            F.col("row").alias("sr"), F.col("col").alias("sc"), F.col("value").alias("zs")
        ),
        ["sr", "sc"],
    )
    ang = F.degrees(
        F.atan(
            (F.col("zs") - F.col("value")) / (F.col("k").cast("double") * cfg.res_x)
        )
    )
    per = j.groupBy("r0", "c0").agg(F.max(ang).alias("mx"))
    return (
        c.join(per, ["r0", "c0"], "left")
        .select(
            F.col("r0").alias("row"),
            F.col("c0").alias("col"),
            F.coalesce("mx", F.lit(-90.0)).alias("value"),
        )
    )
