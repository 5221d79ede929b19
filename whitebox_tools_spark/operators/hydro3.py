"""Hydrology batch 3: compositions that close out the flow-graph family
(SURVEY.md §2.8) — FD8 pointer mask, euclidean stream-relative
elevation, mean flow-path gradient, per-basin longest flow path, stream
burning + the fill->pointer->accumulation full workflow."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whitebox_tools_spark.operators.focal import focal_apply
from whitebox_tools_spark.operators.gridding import GridConfig
from whitebox_tools_spark.operators.hydro import D8_DX, D8_DY


def fd8_pointer(raster: DataFrame, cfg: GridConfig, tile_size: int = 128) -> DataFrame:
    """FD8Pointer (hydro_analysis/fd8_pointer.rs:226-232): bit mask —
    sum of 2^n over every valid lower 8-neighbour."""

    def stencil(block, valid, base_r, base_c, cfg_):
        out = np.zeros_like(block)
        size_r, size_c = block.shape
        for i, (dx, dy) in enumerate(zip(D8_DX, D8_DY)):
            sh = np.full_like(block, np.nan)
            vm = np.zeros_like(valid)
            src_r = slice(max(dy, 0), size_r + min(dy, 0))
            dst_r = slice(max(-dy, 0), size_r + min(-dy, 0))
            src_c = slice(max(dx, 0), size_c + min(dx, 0))
            dst_c = slice(max(-dx, 0), size_c + min(-dx, 0))
            sh[dst_r, dst_c] = block[src_r, src_c]
            vm[dst_r, dst_c] = valid[src_r, src_c]
            with np.errstate(invalid="ignore"):
                out += np.where(vm & (sh < block), float(1 << i), 0.0)
        return np.where(valid, out, np.nan)

    return focal_apply(raster, cfg, stencil, 1, tile_size)


def elevation_above_stream_euclidean(
    raster: DataFrame, streams: DataFrame, cfg: GridConfig
) -> DataFrame:
    """ElevationAboveStreamEuclidean (elev_above_stream_euclidean.rs):
    z minus the elevation of the euclidean-nearest stream cell (ties to
    the smallest (row, col), the distance-transform convention)."""
    from whitebox_tools_spark.operators.hydro import euclidean_distance

    sz = (
        streams.where(F.col("value") == 1.0)
        .select("row", "col")
        .join(raster, ["row", "col"])
        .select("row", "col", F.col("value"))
    )
    # euclidean_distance treats value != 0 as target and allocation
    # returns the target's value; stream z of exactly 0.0 would vanish,
    # so shift by +1 going in and -1 coming out.
    shifted = sz.select("row", "col", (F.col("value") + 1.0).alias("value"))
    alloc = euclidean_distance(shifted, cfg, allocation=True)
    return (
        raster.select("row", "col", F.col("value").alias("z"))
        .join(alloc.select("row", "col", (F.col("value") - 1.0).alias("sz")), ["row", "col"])
        .select("row", "col", (F.col("z") - F.col("sz")).alias("value"))
    )


def average_flowpath_slope(
    raster: DataFrame, cfg: GridConfig, tile_size: int = 128
) -> DataFrame:
    """AverageFlowpathSlope (average_flowpath_slope.rs, engine mean-
    gradient form): degrees(atan((z - z_terminal) / path_length)) over
    the cell's D8 path; terminal cells (path length 0) are 0."""
    from whitebox_tools_spark.operators.hydro2 import downslope_flowpath_length
    from whitebox_tools_spark.operators.terrain2 import elev_above_pit

    dl = downslope_flowpath_length(raster, cfg, tile_size)
    dz = elev_above_pit(raster, cfg, tile_size)
    j = dl.select("row", "col", F.col("value").alias("plen")).join(
        dz.select("row", "col", F.col("value").alias("drop")), ["row", "col"]
    )
    return j.select(
        "row",
        "col",
        F.when(
            F.col("plen") > 0.0,
            F.degrees(F.atan(F.col("drop") / F.col("plen"))),
        )
        .otherwise(0.0)
        .alias("value"),
    )


def longest_flowpath(raster: DataFrame, cfg: GridConfig, tile_size: int = 128) -> DataFrame:
    """LongestFlowpath (longest_flowpath.rs): every cell painted with the
    longest D8 flow-path length of its basin (= the max-upslope length at
    the basin's terminal cell)."""
    from whitebox_tools_spark.operators.hydro2 import basins, d8_graph, max_upslope_flowpath_length

    mu = max_upslope_flowpath_length(raster, cfg, tile_size)
    nodes, edges = d8_graph(raster, cfg, tile_size)
    terminals = nodes.join(edges.select(F.col("a").alias("id")), "id", "left_anti")
    term_len = terminals.join(
        mu.select(
            (F.col("row") * cfg.cols + F.col("col")).alias("id"), F.col("value").alias("ln")
        ),
        "id",
    ).select("row", "col", "ln")
    b = basins(raster, cfg, tile_size)
    tb = b.join(term_len.select("row", "col", "ln"), ["row", "col"]).select(
        F.col("value").alias("basin"), "ln"
    )
    return (
        b.select("row", "col", F.col("value").alias("basin"))
        .join(F.broadcast(tb), "basin")
        .select("row", "col", F.col("ln").alias("value"))
    )


def fill_burn(
    raster: DataFrame, stream_cells: DataFrame, cfg: GridConfig,
    burn: float = 20.0, max_rounds: int = 64,
) -> DataFrame:
    """FillBurn (hydro_analysis/fill_burn.rs, Lindsay 2016 simplified):
    decrement the DEM by ``burn`` on stream cells, then fill depressions
    (Planchon-Darboux) on the burned surface."""
    from whitebox_tools_spark.operators.hydro2 import fill_depressions

    burned = (
        raster.join(stream_cells.select("row", "col", F.lit(1).alias("_s")), ["row", "col"], "left")
        .select(
            "row", "col",
            F.when(F.col("_s").isNotNull(), F.col("value") - burn)
            .otherwise(F.col("value"))
            .alias("value"),
        )
    )
    return fill_depressions(burned, cfg, max_rounds=max_rounds)


def flow_accumulation_full_workflow(
    raster: DataFrame, cfg: GridConfig, fill_rounds: int = 64,
    accum_rounds: int = 100, tile_size: int = 128,
) -> DataFrame:
    """FlowAccumulationFullWorkflow (flow_accumulation_full_workflow.rs):
    fill depressions, then D8 accumulation on the filled surface.
    ``accum_rounds`` bounds the accumulation's exit-cell loop, whose
    rounds count tile crossings along a flow path."""
    from whitebox_tools_spark.operators.hydro import d8_flow_accumulation
    from whitebox_tools_spark.operators.hydro2 import fill_depressions

    filled = fill_depressions(raster, cfg, max_rounds=fill_rounds).localCheckpoint(
        eager=True
    )
    return d8_flow_accumulation(filled, cfg, tile_size=tile_size, max_rounds=accum_rounds)
