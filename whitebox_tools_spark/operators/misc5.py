"""Batch: fast almost-Gaussian filter (Kovesi box passes) + hillslopes."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whitebox_tools_spark.operators.graph import expand, size_hint
from whitebox_tools_spark.operators.gridding import GridConfig


def fag_sizes(sigma: float, n: int = 5):
    """Kovesi pass sizes (fast_almost_gaussian_filter.rs:195-206):
    m passes of wl then n-m of wu (both odd)."""
    w_ideal = math.sqrt(12.0 * sigma * sigma / n + 1.0)
    wl = int(math.floor(w_ideal))
    if wl % 2 == 0:
        wl -= 1
    wu = wl + 2
    m = round(
        (12.0 * sigma * sigma - n * wl * wl - 4 * n * wl - 3 * n) / (-4 * wl - 4)
    )
    return wl, wu, int(m)


def fast_almost_gaussian(
    raster: DataFrame, cfg: GridConfig, sigma: float = 1.8, tile_size: int = 128
) -> DataFrame:
    """FastAlmostGaussianFilter: n=5 successive box (mean) passes with
    the MeanFilter clamped-integral semantics; each pass recomputes its
    own raster minimum, like chaining the reference tool.

    Pass selection matches the reference exactly
    (fast_almost_gaussian_filter.rs:191-193 sigma clamp to >=1.8;
    :244-253 'iteration_num <= m' -> m+1 passes of wl, rest wu)."""
    from whitebox_tools_spark.operators.focal import mean_filter

    sigma = max(sigma, 1.8)
    wl, wu, m = fag_sizes(sigma)
    out = raster
    for i in range(5):
        w = wl if i <= m else wu
        out = mean_filter(out, cfg, w, w, tile_size=tile_size).localCheckpoint(
            eager=True
        )
    return out


def hillslopes(
    raster: DataFrame, streams: DataFrame, dirs: DataFrame, cfg: GridConfig,
    tile_size: int = 128, max_rounds: int = 400,
) -> DataFrame:
    """Hillslopes (hydro_analysis/hillslopes.rs, engine form): every
    non-stream cell labelled link*3 + side of the stream link its flow
    path first enters — side 1 (left of the stream cell's flow vector),
    2 (right), 0 (head-on / undefined); stream cells are link*3.
    Links are the canonical stream link ids."""
    from whitebox_tools_spark.operators.hydro import D8_DX, D8_DY
    from whitebox_tools_spark.operators.hydro2 import d8_graph
    from whitebox_tools_spark.operators.streams import _links, stream_graph

    nodes, edges = d8_graph(raster, cfg, tile_size)
    snodes, sedges = stream_graph(streams, dirs, cfg)
    links = _links(snodes, sedges)
    sid = snodes.join(links, "id").select("id", "link", "dir")

    dxa = F.array(*[F.lit(v) for v in D8_DX])
    dya = F.array(*[F.lit(v) for v in D8_DY])
    # boundary edges: u (non-stream) -> v (stream): side from
    # cross(flow_vec(v), entry_vec(v->u))
    u = nodes.join(sid.select(F.col("id").alias("sidid")), nodes.id == F.col("sidid"), "left_anti")
    bedge = (
        edges.withColumnRenamed("a", "ua").withColumnRenamed("b", "vb")
        .join(u.select(F.col("id").alias("ua")), "ua", "left_semi")
        .join(sid.select(F.col("id").alias("vb"), "link", F.col("dir").alias("vdir")), "vb")
    )
    urow = F.floor(F.col("ua") / cfg.cols)
    ucol = F.pmod(F.col("ua"), F.lit(cfg.cols))
    vrow = F.floor(F.col("vb") / cfg.cols)
    vcol = F.pmod(F.col("vb"), F.lit(cfg.cols))
    fdc = F.element_at(dxa, F.col("vdir") + 1)
    fdr = F.element_at(dya, F.col("vdir") + 1)
    cross = fdc * (urow - vrow) - fdr * (ucol - vcol)
    side = (
        F.when(F.col("vdir") < 0, 0)
        .when(cross > 0, 1)
        .when(cross < 0, 2)
        .otherwise(0)
    )
    seeds = bedge.select(
        F.col("ua").alias("id"), (F.col("link") * 3 + side).alias("payload")
    )
    # propagate upstream through non-stream cells
    ns_edges = edges.join(
        sid.select(F.col("id").alias("b2")), edges.b == F.col("b2"), "left_anti"
    ).join(u.select(F.col("id").alias("a2")), edges.a == F.col("a2"), "left_semi")
    small = cfg.rows * cfg.cols <= 2_000_000

    def step(frontier, known):
        return (
            ns_edges.join(size_hint(frontier, small), ns_edges.b == frontier.id)
            .select(F.col("a").alias("id"), "payload")
            .join(
                size_hint(known.select(F.col("id").alias("kid")), small),
                F.col("id") == F.col("kid"),
                "left_anti",
            )
        )

    known = expand(seeds.localCheckpoint(eager=True), step, max_rounds, "hillslopes")
    stream_out = sid.select("id", (F.col("link") * 3).alias("payload"))
    allp = known.unionByName(stream_out)
    return nodes.join(allp, "id").select(
        "row", "col", F.col("payload").cast("double").alias("value")
    )
