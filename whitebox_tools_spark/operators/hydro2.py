"""Hydrology batch 2 (SURVEY.md §2.8): depression filling and its
derivatives, FD8 dispersive accumulation, flow-path length family,
stream-relative metrics, basin labelling, pour-point snapping.

Scale notes (the interesting bits):
- fill_depressions uses the Planchon & Darboux (2001) fixpoint
  W = max(z, min_nbr(W)) seeded at the raster border — unlike the
  reference's sequential priority-flood (fill_depressions.rs:19-38,
  BinaryHeap), every round is one tile-local stencil-free join, so it
  distributes; rounds ~ longest monotone path. Flats are filled level
  (epsilon = 0) rather than with the reference's tiny increments.
- basins uses pointer doubling (next <- next(next)): O(log depth)
  rounds instead of O(depth) label-chasing — the textbook distributed
  answer to the reference's sequential upstream DFS (watershed.rs).
- Basin/sink ids are the dense rank of the component's min row-major
  cell id (canonical, partition-invariant), not the reference's scan
  order.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

import numpy as np

from whitebox_tools_spark.operators.focal import focal_apply
from whitebox_tools_spark.operators.graph import (
    changed,
    connected_components,
    expand,
    fixpoint,
    size_hint,
)
from whitebox_tools_spark.operators.gridding import GridConfig
from whitebox_tools_spark.operators.hydro import D8_DX, D8_DY, _d8_dir_stencil


def _lens(cfg: GridConfig):
    diag = math.sqrt(cfg.res_x * cfg.res_x + cfg.res_y * cfg.res_y)
    return [diag, cfg.res_x, diag, cfg.res_y, diag, cfg.res_x, diag, cfg.res_y]


def d8_graph(raster: DataFrame, cfg: GridConfig, tile_size: int = 128):
    """Full-grid D8 graph: nodes(id,row,col,dir) + edges(a,b,len)."""
    dirs = focal_apply(
        raster, cfg, _d8_dir_stencil(cfg, as_index=True), 1, tile_size
    ).select("row", "col", F.col("value").cast("int").alias("dir"))
    cid = (F.col("row") * cfg.cols + F.col("col")).alias("id")
    nodes = dirs.select("row", "col", cid, "dir").localCheckpoint(eager=True)
    dx = F.array(*[F.lit(v) for v in D8_DX])
    dy = F.array(*[F.lit(v) for v in D8_DY])
    ln = F.array(*[F.lit(v) for v in _lens(cfg)])
    edges = (
        nodes.where(F.col("dir") >= 0)
        .select(
            F.col("id").alias("a"),
            (
                (F.col("row") + F.element_at(dy, F.col("dir") + 1)) * cfg.cols
                + (F.col("col") + F.element_at(dx, F.col("dir") + 1))
            ).alias("b"),
            F.element_at(ln, F.col("dir") + 1).alias("len"),
        )
        .localCheckpoint(eager=True)
    )
    return nodes, edges


# ------------------------------------------------------ simple stencils


def fill_single_cell_pits(
    raster: DataFrame, cfg: GridConfig, tile_size: int = 128
) -> DataFrame:
    """FillSingleCellPits (fill_pits.rs:198-221): a cell with no valid
    lower 8-neighbour is raised to min(valid neighbours) + 0.0001."""

    def stencil(block, valid, base_r, base_c, cfg_):
        mn = np.full_like(block, np.inf)
        lower = np.zeros_like(valid)
        for dx, dy in zip(D8_DX, D8_DY):
            size_r, size_c = block.shape
            sh = np.full_like(block, np.nan)
            vm = np.zeros_like(valid)
            src_r = slice(max(dy, 0), size_r + min(dy, 0))
            dst_r = slice(max(-dy, 0), size_r + min(-dy, 0))
            src_c = slice(max(dx, 0), size_c + min(dx, 0))
            dst_c = slice(max(-dx, 0), size_c + min(-dx, 0))
            sh[dst_r, dst_c] = block[src_r, src_c]
            vm[dst_r, dst_c] = valid[src_r, src_c]
            with np.errstate(invalid="ignore"):
                lower |= vm & (sh < block)
                mn = np.where(vm & (sh < mn), sh, mn)
        out = np.where(lower | ~np.isfinite(mn), block, mn + 0.0001)
        return np.where(valid, out, np.nan)

    return focal_apply(raster, cfg, stencil, 1, tile_size)


def find_no_flow_cells(
    raster: DataFrame, cfg: GridConfig, tile_size: int = 128
) -> DataFrame:
    """FindNoFlowCells (find_noflow_cells.rs:203-211): 1.0 where the cell
    has no valid lower 8-neighbour; other cells are NoData."""

    def stencil(block, valid, base_r, base_c, cfg_):
        lower = np.zeros_like(valid)
        for dx, dy in zip(D8_DX, D8_DY):
            size_r, size_c = block.shape
            sh = np.full_like(block, np.nan)
            vm = np.zeros_like(valid)
            src_r = slice(max(dy, 0), size_r + min(dy, 0))
            dst_r = slice(max(-dy, 0), size_r + min(-dy, 0))
            src_c = slice(max(dx, 0), size_c + min(dx, 0))
            dst_c = slice(max(-dx, 0), size_c + min(-dx, 0))
            sh[dst_r, dst_c] = block[src_r, src_c]
            vm[dst_r, dst_c] = valid[src_r, src_c]
            with np.errstate(invalid="ignore"):
                lower |= vm & (sh < block)
        return np.where(valid & ~lower, 1.0, np.nan)

    return focal_apply(raster, cfg, stencil, 1, tile_size)


# ------------------------------------------- depression filling family


def fill_depressions(
    raster: DataFrame,
    cfg: GridConfig,
    max_rounds: int = 200,
    tile_size: int = 128,
    epsilon: float = 0.0,
) -> DataFrame:
    """FillDepressions via the Planchon & Darboux fixpoint (see module
    doc): W seeded to z on the raster border (grid edge or next to a
    missing cell), +inf inside; W <- max(z, min over valid 8-neighbours
    of W (+ epsilon)) until stable. epsilon > 0 is the reference's
    --flat_increment: filled areas gain a strict gradient toward their
    outlet, so a D8 pointer on W is defined everywhere off the border."""
    cells = raster.select(
        "row", "col", "value", (F.col("row") * cfg.cols + F.col("col")).alias("id")
    ).localCheckpoint(eager=True)
    # border = grid edge or any missing 8-neighbour
    offs = F.array(
        *[
            F.struct(F.lit(dy).alias("dr"), F.lit(dx).alias("dc"))
            for dx, dy in zip(D8_DX, D8_DY)
        ]
    )
    ex = cells.select("id", "row", "col", F.explode(offs).alias("o")).select(
        "id",
        (F.col("row") + F.col("o.dr")).alias("nr"),
        (F.col("col") + F.col("o.dc")).alias("nc"),
    )
    in_grid = (
        (F.col("nr") >= 0)
        & (F.col("nr") < cfg.rows)
        & (F.col("nc") >= 0)
        & (F.col("nc") < cfg.cols)
    )
    nbr_ids = cells.select(
        (F.col("row") * cfg.cols + F.col("col")).alias("nid")
    )
    present = ex.where(in_grid).join(
        nbr_ids, ex.nr * cfg.cols + ex.nc == nbr_ids.nid, "left"
    )
    missing_nbr = (
        ex.where(~in_grid)
        .select("id")
        .unionAll(present.where(F.col("nid").isNull()).select("id"))
        .distinct()
    )
    border = missing_nbr
    # neighbour pairs among present cells
    pairs = (
        present.where(F.col("nid").isNotNull())
        .select(F.col("id").alias("a"), F.col("nid").alias("b"))
        .localCheckpoint(eager=True)
    )
    w = cells.join(border.withColumnRenamed("id", "bid"), cells.id == F.col("bid"), "left").select(
        "id",
        "row",
        "col",
        "value",
        F.when(F.col("bid").isNotNull(), F.col("value")).otherwise(F.lit(float("inf"))).alias(
            "w"
        ),
    ).localCheckpoint(eager=True)
    small = cfg.rows * cfg.cols <= 2_000_000

    def _lower(w):
        nbr_min = (
            pairs.join(
                size_hint(w.select(F.col("id").alias("b"), F.col("w").alias("wn")), small),
                "b",
            )
            .groupBy("a")
            .agg(F.min("wn").alias("mn"))
        )
        return w.join(size_hint(nbr_min.withColumnRenamed("a", "id"), small), "id", "left").select(
            "id",
            "row",
            "col",
            "value",
            F.greatest(
                F.col("value"),
                F.least(
                    F.col("w"),
                    F.coalesce(F.col("mn") + F.lit(epsilon), F.col("w")),
                ),
            ).alias("w"),
        )

    w = fixpoint(w, _lower, changed("id", "w"), max_rounds, "fill_depressions")
    return w.select("row", "col", F.col("w").alias("value"))


def depth_in_sink(
    raster: DataFrame, cfg: GridConfig, zero_background: bool = True, **kw
) -> DataFrame:
    """DepthInSink (depth_in_sink.rs): filled DEM minus DEM."""
    filled = fill_depressions(raster, cfg, **kw)
    j = raster.select("row", "col", F.col("value").alias("z")).join(
        filled.select("row", "col", F.col("value").alias("w")), ["row", "col"]
    )
    depth = F.col("w") - F.col("z")
    bg = F.lit(0.0) if zero_background else F.lit(None).cast("double")
    return j.select(
        "row", "col", F.when(depth > 0.0, depth).otherwise(bg).alias("value")
    )


def sink(raster: DataFrame, cfg: GridConfig, **kw) -> DataFrame:
    """Sink (sink.rs): clumps of cells raised by depression filling,
    labelled canonically; background 0."""
    filled = fill_depressions(raster, cfg, **kw)
    j = raster.select("row", "col", F.col("value").alias("z")).join(
        filled.select("row", "col", F.col("value").alias("w")), ["row", "col"]
    )
    sunk = j.where(F.col("w") > F.col("z")).select(
        "row", "col", (F.col("row") * cfg.cols + F.col("col")).alias("id")
    ).localCheckpoint(eager=True)
    offs = F.array(
        *[
            F.struct(F.lit(dy).alias("dr"), F.lit(dx).alias("dc"))
            for dx, dy in zip(D8_DX, D8_DY)
        ]
    )
    ex = sunk.select("id", "row", "col", F.explode(offs).alias("o"))
    probe = ex.select(
        F.col("id").alias("a"),
        ((F.col("row") + F.col("o.dr")) * cfg.cols + F.col("col") + F.col("o.dc")).alias(
            "nbr"
        ),
    )
    edges = probe.join(sunk.select(F.col("id").alias("b")), probe.nbr == F.col("b")).select(
        "a", "b"
    )
    comps = connected_components(edges, sunk.select("id"), "id")
    first = comps.groupBy("comp").agg(F.min("node").alias("first_id"))
    ranked = first.withColumn(
        "fid", F.row_number().over(Window.orderBy("first_id")).cast("double")
    )
    lab = sunk.join(comps, sunk.id == comps.node).join(ranked, "comp").select(
        "row", "col", F.col("fid").alias("value")
    )
    bg = j.join(lab.select("row", "col"), ["row", "col"], "left_anti").select(
        "row", "col", F.lit(0.0).alias("value")
    )
    return lab.unionByName(bg)


# --------------------------------------------------- FD8 accumulation


def fd8_flow_accumulation(
    raster: DataFrame,
    cfg: GridConfig,
    exponent: float = 1.1,
    max_rounds: int = 100,
    tile_size: int = 128,
) -> DataFrame:
    """FD8FlowAccumulation (fd8_flow_accum.rs:395-445, no convergence
    threshold): flow splits to every lower neighbour with weight
    (z - zn)^exponent / total; accum(b) = 1 + sum(w_ab * accum(a))."""
    cells = raster.select(
        "row", "col", "value", (F.col("row") * cfg.cols + F.col("col")).alias("id")
    ).localCheckpoint(eager=True)
    offs = F.array(
        *[
            F.struct(F.lit(dy).alias("dr"), F.lit(dx).alias("dc"))
            for dx, dy in zip(D8_DX, D8_DY)
        ]
    )
    ex = cells.select("id", "row", "col", "value", F.explode(offs).alias("o"))
    probe = ex.select(
        F.col("id").alias("a"),
        F.col("value").alias("za"),
        ((F.col("row") + F.col("o.dr")) * cfg.cols + F.col("col") + F.col("o.dc")).alias(
            "nbr"
        ),
        (F.col("row") + F.col("o.dr")).alias("nr"),
        (F.col("col") + F.col("o.dc")).alias("nc"),
    ).where(
        (F.col("nr") >= 0)
        & (F.col("nr") < cfg.rows)
        & (F.col("nc") >= 0)
        & (F.col("nc") < cfg.cols)
    )
    down = (
        probe.join(
            cells.select(F.col("id").alias("b"), F.col("value").alias("zb")),
            probe.nbr == F.col("b"),
        )
        .where(F.col("zb") < F.col("za"))
        .select("a", "b", F.pow(F.col("za") - F.col("zb"), F.lit(exponent)).alias("wt"))
    )
    tot = down.groupBy("a").agg(F.sum("wt").alias("tw"))
    edges = (
        down.join(tot, "a")
        .select("a", "b", (F.col("wt") / F.col("tw")).alias("w"))
        .localCheckpoint(eager=True)
    )
    acc = cells.select("id", F.lit(1.0).alias("val")).localCheckpoint(eager=True)
    small = cfg.rows * cfg.cols <= 2_000_000

    def step(acc):
        up = (
            edges.join(size_hint(acc, small), edges.a == acc.id)
            .groupBy("b")
            .agg(F.sum(F.col("w") * F.col("val")).alias("s"))
        )
        return (
            cells.select("id")
            .join(size_hint(up.withColumnRenamed("b", "id"), small), "id", "left")
            .select("id", (F.lit(1.0) + F.coalesce("s", F.lit(0.0))).alias("val"))
        )

    acc = fixpoint(acc, step, changed("id", "val"), max_rounds, "fd8_flow_accumulation")
    return cells.join(acc, "id").select("row", "col", F.col("val").alias("value"))


# --------------------------------------------- flow-path length family


def max_upslope_flowpath_length(
    raster: DataFrame, cfg: GridConfig, tile_size: int = 128
) -> DataFrame:
    """MaxUpslopeFlowpathLength (max_upslope_flowpath.rs): longest D8
    flow path draining through each cell (ridge cells are 0)."""
    nodes, edges = d8_graph(raster, cfg, tile_size)
    cur = nodes.select("id", F.lit(0.0).alias("val")).localCheckpoint(eager=True)
    small = cur.count() <= 2_000_000

    def step(cur):
        up = (
            edges.join(size_hint(cur, small), edges.a == cur.id)
            .groupBy("b")
            .agg(F.max(F.col("val") + F.col("len")).alias("s"))
        )
        return (
            nodes.select("id")
            .join(size_hint(up.withColumnRenamed("b", "id"), small), "id", "left")
            .select("id", F.coalesce("s", F.lit(0.0)).alias("val"))
        )

    vals = fixpoint(cur, step, changed("id", "val"), 100, "max_upslope_flowpath_length")
    return nodes.join(vals, "id").select("row", "col", F.col("val").alias("value"))


def downslope_flowpath_length(
    raster: DataFrame, cfg: GridConfig, tile_size: int = 128
) -> DataFrame:
    """DownslopeFlowpathLength (downslope_flowpath_length.rs): D8 path
    length from each cell to its terminal cell (pit/edge = 0)."""
    nodes, edges = d8_graph(raster, cfg, tile_size)
    cur = nodes.select("id", F.lit(0.0).alias("val")).localCheckpoint(eager=True)
    small = cur.count() <= 2_000_000

    def step(cur):
        dn = edges.join(size_hint(cur, small), edges.b == cur.id).select(
            F.col("a").alias("id"), (F.col("val") + F.col("len")).alias("s")
        )
        return (
            nodes.select("id")
            .join(dn, "id", "left")
            .select("id", F.coalesce("s", F.lit(0.0)).alias("val"))
        )

    cur = fixpoint(cur, step, changed("id", "val"), 100, "downslope_flowpath_length")
    return nodes.join(cur, "id").select("row", "col", F.col("val").alias("value"))


def _stream_relative(raster, streams, cfg, mode: str, tile_size: int = 128):
    """Shared upstream propagation from stream cells over the full D8
    graph: per cell, the stream cell its flow path reaches first.

    mode='dist': DownslopeDistanceToStream (path length, stream cells 0)
    mode='elev': ElevationAboveStream (z - z(reached stream cell))
    Cells whose path never reaches a stream are NoData (dropped)."""
    nodes, edges = d8_graph(raster, cfg, tile_size)
    zmap = raster.select(
        (F.col("row") * cfg.cols + F.col("col")).alias("id"), F.col("value").alias("z")
    )
    scells = (
        streams.where(F.col("value") == 1.0)
        .select((F.col("row") * cfg.cols + F.col("col")).alias("id"))
        .join(zmap, "id")
        .select("id", F.lit(0.0).alias("dist"), F.col("z").alias("sz"))
    )
    small = cfg.rows * cfg.cols <= 2_000_000

    def step(frontier, known):
        return (
            edges.join(size_hint(frontier, small), edges.b == frontier.id)
            .select(
                F.col("a").alias("id"),
                (F.col("dist") + F.col("len")).alias("dist"),
                "sz",
            )
            .join(
                size_hint(known.select(F.col("id").alias("kid")), small),
                F.col("id") == F.col("kid"),
                "left_anti",
            )
        )

    known = expand(scells.localCheckpoint(eager=True), step, 400, f"_stream_relative({mode})")
    out = nodes.join(known, "id").join(zmap, "id")
    if mode == "dist":
        return out.select("row", "col", F.col("dist").alias("value"))
    return out.select("row", "col", (F.col("z") - F.col("sz")).alias("value"))


def downslope_distance_to_stream(raster, streams, cfg: GridConfig, tile_size=128):
    """DownslopeDistanceToStream (downslope_distance_to_stream.rs:344-364)."""
    return _stream_relative(raster, streams, cfg, "dist", tile_size)


def elevation_above_stream(raster, streams, cfg: GridConfig, tile_size=128):
    """ElevationAboveStream (elev_above_stream.rs): z minus the elevation
    of the stream cell the D8 path drains to."""
    return _stream_relative(raster, streams, cfg, "elev", tile_size)


# ------------------------------------------------------------- basins


def basins(raster: DataFrame, cfg: GridConfig, tile_size: int = 128) -> DataFrame:
    """Basins (basins.rs / watershed.rs semantics): every cell labelled
    by its terminal (outlet/pit) cell, via pointer doubling; labels are
    dense ranks of the terminal cell id."""
    nodes, edges = d8_graph(raster, cfg, tile_size)
    nxt = (
        nodes.join(edges.select(F.col("a").alias("id"), "b"), "id", "left")
        .select("id", F.coalesce("b", F.col("id")).alias("nxt"))
        .localCheckpoint(eager=True)
    )
    small = cfg.rows * cfg.cols <= 2_000_000

    def hop(nxt):
        return nxt.alias("x").join(
            size_hint(
                nxt.alias("y").select(
                    F.col("y.id").alias("nid"), F.col("y.nxt").alias("n2")
                ),
                small,
            ),
            F.col("x.nxt") == F.col("nid"),
        ).select(F.col("x.id").alias("id"), F.col("n2").alias("nxt"))

    # 32 pointer doublings bound the path length by 2^32
    nxt = fixpoint(nxt, hop, changed("id", "nxt"), 32, "basins")
    first = nxt.select("nxt").distinct()
    ranked = first.withColumn(
        "fid", F.row_number().over(Window.orderBy("nxt")).cast("double")
    )
    return (
        nodes.join(nxt, "id")
        .join(ranked, "nxt")
        .select("row", "col", F.col("fid").alias("value"))
    )


# ------------------------------------------------------ pour-point snap


def snap_pour_points(
    pour: DataFrame, accum: DataFrame, cfg: GridConfig, snap_dist: float
) -> DataFrame:
    """SnapPourPoints (snap_pour_points.rs): move each pour point to the
    max-accumulation cell within snap_dist (euclidean, cell centres);
    ties break to the smallest row-major cell id."""
    r = int(math.ceil(snap_dist / min(cfg.res_x, cfg.res_y)))
    cand = pour.select(F.col("row").alias("pr"), F.col("col").alias("pc"), "value").join(
        accum.select(
            F.col("row").alias("cr"), F.col("col").alias("cc"), F.col("value").alias("acc")
        ),
        (F.abs(F.col("cr") - F.col("pr")) <= r) & (F.abs(F.col("cc") - F.col("pc")) <= r),
    )
    d2 = (
        ((F.col("cr") - F.col("pr")) * cfg.res_y) ** 2
        + ((F.col("cc") - F.col("pc")) * cfg.res_x) ** 2
    )
    cand = cand.where(d2 <= snap_dist * snap_dist)
    w = Window.partitionBy("pr", "pc").orderBy(
        F.col("acc").desc(), (F.col("cr") * cfg.cols + F.col("cc")).asc()
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(F.col("cr").alias("row"), F.col("cc").alias("col"), "value")
    )


def jenson_snap_pour_points(
    pour: DataFrame, streams: DataFrame, cfg: GridConfig, snap_dist: float
) -> DataFrame:
    """JensonSnapPourPoints (jenson_snap_pour_points.rs): move each pour
    point to the nearest stream cell within snap_dist; ties break to the
    smallest row-major cell id."""
    r = int(math.ceil(snap_dist / min(cfg.res_x, cfg.res_y)))
    sc = streams.where(F.col("value") == 1.0).select(
        F.col("row").alias("cr"), F.col("col").alias("cc")
    )
    cand = pour.select(F.col("row").alias("pr"), F.col("col").alias("pc"), "value").join(
        sc,
        (F.abs(F.col("cr") - F.col("pr")) <= r) & (F.abs(F.col("cc") - F.col("pc")) <= r),
    )
    d2 = (
        ((F.col("cr") - F.col("pr")) * cfg.res_y) ** 2
        + ((F.col("cc") - F.col("pc")) * cfg.res_x) ** 2
    ).alias("d2")
    cand = cand.select("*", d2).where(F.col("d2") <= snap_dist * snap_dist)
    w = Window.partitionBy("pr", "pc").orderBy(
        F.col("d2").asc(), (F.col("cr") * cfg.cols + F.col("cc")).asc()
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(F.col("cr").alias("row"), F.col("cc").alias("col"), "value")
    )


def trace_downslope_flowpaths(
    seeds: DataFrame, raster: DataFrame, cfg: GridConfig, tile_size: int = 128
) -> DataFrame:
    """TraceDownslopeFlowpaths (trace_downslope_flowpaths.rs): mark every
    cell on the D8 path from each seed cell (1.0), via pointer doubling
    over (reach-set grows as path closure)."""
    nodes, edges = d8_graph(raster, cfg, tile_size)
    seed_ids = seeds.select((F.col("row") * cfg.cols + F.col("col")).alias("id"))
    small = cfg.rows * cfg.cols <= 2_000_000

    def step(frontier, reached):
        return (
            edges.join(size_hint(frontier, small), edges.a == frontier.id)
            .select(F.col("b").alias("id"))
            .join(
                size_hint(reached.withColumnRenamed("id", "rid"), small),
                F.col("id") == F.col("rid"),
                "left_anti",
            )
            .distinct()
        )

    reached = expand(
        seed_ids.localCheckpoint(eager=True), step, 400, "trace_downslope_flowpaths"
    )
    return nodes.join(reached, "id", "left_semi").select(
        "row", "col", F.lit(1.0).alias("value")
    )


def breach_depressions(
    raster: DataFrame,
    cfg: GridConfig,
    epsilon: float = 1e-5,
    tile_size: int = 128,
    max_rounds: int = 400,
) -> DataFrame:
    """BreachDepressions (hydro_analysis/breach_depressions.rs, Lindsay
    2016 contract) — engine form: COMPLETE CARVING (Soille, Vogt &
    Colombo 2003), the breach-everything limit of the reference tool:

      1. W = fill_depressions with the reference's flat-increment
         (epsilon), giving a strict drainage gradient everywhere;
      2. D8 pointer on W — every cell drains to the border;
      3. carve: z' = min over the W-drainage upstream tree of original
         z — spill ridges are LOWERED to their deepest upstream pit
         instead of depressions being raised.

    Deviating from the reference's depth/length-constrained selective
    breaching (documented in the registry); output is depression-free
    by construction. Distributed shape: one fill fixpoint + one
    upstream-min fixpoint, all equi-joins."""
    w = fill_depressions(
        raster, cfg, max_rounds=max_rounds, tile_size=tile_size, epsilon=epsilon
    )
    nodes, edges = d8_graph(w, cfg, tile_size)
    z = raster.select(
        (F.col("row") * cfg.cols + F.col("col")).alias("id"),
        "row", "col", F.col("value").alias("z"),
    ).localCheckpoint(eager=True)
    m = z.select("id", F.col("z").alias("val")).localCheckpoint(eager=True)
    small = cfg.rows * cfg.cols <= 2_000_000

    def step(m):
        up = (
            edges.join(size_hint(m, small), edges.a == m.id)
            .groupBy("b")
            .agg(F.min("val").alias("mn"))
        )
        return m.join(size_hint(up.withColumnRenamed("b", "id"), small), "id", "left").select(
            "id", F.least(F.col("val"), F.coalesce("mn", "val")).alias("val")
        )

    m = fixpoint(m, step, changed("id", "val"), max_rounds, "breach_depressions")
    return z.join(m, "id").select("row", "col", F.col("val").alias("value"))
