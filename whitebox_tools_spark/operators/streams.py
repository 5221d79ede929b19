"""Stream-network analysis over the stream-cell flow DAG (SURVEY.md §2.8
stream tools, stream_network_analysis/*.rs).

All ops share one graph: stream cells (streams raster > 0.0) joined to a
D8 direction-index raster give nodes; stream-to-stream downstream links
with their grid lengths give edges (each node has <= 1 outgoing edge, so
the graph is a forest flowing to outlets). Propagations are bounded
driver-loop fixpoints — each round is one or two hash joins on cell id,
localCheckpoint'ed; convergence takes stream-DAG-depth rounds.

Link identity deviation: the reference assigns link ids in discovery
(scan) order (stream_link_id.rs); a distributed engine has no scan order,
so links get the dense rank of their minimum row-major cell id — the same
canonicalization the Clump operator uses. All link-based outputs
(length, class, removal) are id-invariant.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from whitebox_tools_spark.operators.graph import (
    changed,
    connected_components,
    fixpoint,
    size_hint,
)
from whitebox_tools_spark.operators.gridding import GridConfig
from whitebox_tools_spark.operators.hydro import D8_DX, D8_DY


def stream_graph(streams: DataFrame, dirs: DataFrame, cfg: GridConfig):
    """(nodes, edges): nodes(id, row, col, dir); edges(a, b, len) for
    stream->stream D8 links, len = grid length of the step
    (grid_lengths, e.g. dist_to_outlet.rs:336)."""
    diag = math.sqrt(cfg.res_x * cfg.res_x + cfg.res_y * cfg.res_y)
    lens = [diag, cfg.res_x, diag, cfg.res_y, diag, cfg.res_x, diag, cfg.res_y]
    # reference stream tools treat ANY positive value as a stream cell
    # (streams > 0.0) — stream rasters may hold link ids or orders
    s = streams.where(F.col("value") > 0.0).select("row", "col")
    cells = s.join(dirs, ["row", "col"], "inner")
    cid = (F.col("row") * cfg.cols + F.col("col")).alias("id")
    nodes = cells.select("row", "col", cid, "dir").localCheckpoint(eager=True)
    dx = F.array(*[F.lit(v) for v in D8_DX])
    dy = F.array(*[F.lit(v) for v in D8_DY])
    ln = F.array(*[F.lit(v) for v in lens])
    down_all = nodes.where(F.col("dir") >= 0).select(
        F.col("id").alias("a"),
        (
            (F.col("row") + F.element_at(dy, F.col("dir") + 1)) * cfg.cols
            + (F.col("col") + F.element_at(dx, F.col("dir") + 1))
        ).alias("b"),
        F.element_at(ln, F.col("dir") + 1).alias("len"),
    )
    ids = nodes.select(F.col("id").alias("b"))
    edges = down_all.join(ids, "b", "left_semi").localCheckpoint(eager=True)
    return nodes, edges


def _fixpoint(update, max_rounds: int, name: str):
    """Iterate val(id) <- update(prev) until unchanged (graph.fixpoint).
    ``update`` takes a DataFrame (id, val) and returns the next (id, val);
    ``update(None)`` is the initial frame."""
    cur = update(None).localCheckpoint(eager=True)
    small = cur.count() <= 2_000_000
    return fixpoint(
        cur, lambda prev: update(size_hint(prev, small)), changed("id", "val"),
        max_rounds, name,
    )


def _as_raster(nodes, vals) -> DataFrame:
    return nodes.join(vals, "id").select(
        "row", "col", F.col("val").cast("double").alias("value")
    )


def shreve_magnitude(streams, dirs, cfg: GridConfig, max_rounds: int = 100) -> DataFrame:
    """ShreveStreamMagnitude (shreve_magnitude.rs:300-360): heads are 1;
    every cell is the sum of its inflowing stream magnitudes."""
    nodes, edges = stream_graph(streams, dirs, cfg)
    heads = nodes.join(edges.select(F.col("b").alias("id")), "id", "left_anti").select(
        "id"
    )

    def update(prev):
        if prev is None:
            return nodes.select("id", F.lit(1).alias("val"))
        up = edges.join(prev, edges.a == prev.id).groupBy("b").agg(
            F.sum("val").alias("s")
        )
        return (
            nodes.select("id")
            .join(up.select(F.col("b").alias("id"), "s"), "id", "left")
            .select("id", F.coalesce("s", F.lit(1)).alias("val"))
        )

    return _as_raster(nodes, _fixpoint(update, max_rounds, "shreve_magnitude"))


def length_of_upstream_channels(
    streams, dirs, cfg: GridConfig, max_rounds: int = 100
) -> DataFrame:
    """LengthOfUpstreamChannels (total_length_channels.rs:368-390): total
    grid length of all stream links strictly upstream of the cell PLUS
    the cell's own outflowing link length (the reference increments the
    cell by grid_lengths[dir] before propagating, :377, for any valid
    pointer — even when the downstream cell is not a stream cell)."""
    nodes, edges = stream_graph(streams, dirs, cfg)

    def update(prev):
        if prev is None:
            return nodes.select("id", F.lit(0.0).alias("val"))
        up = (
            edges.join(prev, edges.a == prev.id)
            .groupBy("b")
            .agg(F.sum(F.col("val") + F.col("len")).alias("s"))
        )
        return (
            nodes.select("id")
            .join(up.select(F.col("b").alias("id"), "s"), "id", "left")
            .select("id", F.coalesce("s", F.lit(0.0)).alias("val"))
        )

    upstream = _fixpoint(update, max_rounds, "length_of_upstream_channels")
    diag = math.sqrt(cfg.res_x * cfg.res_x + cfg.res_y * cfg.res_y)
    lens = [diag, cfg.res_x, diag, cfg.res_y, diag, cfg.res_x, diag, cfg.res_y]
    ln = F.array(*[F.lit(v) for v in lens])
    own = nodes.select(
        "id",
        F.when(F.col("dir") >= 0, F.element_at(ln, F.col("dir") + 1))
        .otherwise(F.lit(0.0))
        .alias("own_len"),
    )
    total = upstream.join(own, "id").select(
        "id", (F.col("val") + F.col("own_len")).alias("val")
    )
    return _as_raster(nodes, total)


def farthest_channel_head(
    streams, dirs, cfg: GridConfig, max_rounds: int = 100
) -> DataFrame:
    """FarthestChannelHead (farthest_channel_head.rs:361-382): distance
    along the channel to the most distant upstream head (heads are 0)."""
    nodes, edges = stream_graph(streams, dirs, cfg)

    def update(prev):
        if prev is None:
            return nodes.select("id", F.lit(0.0).alias("val"))
        up = (
            edges.join(prev, edges.a == prev.id)
            .groupBy("b")
            .agg(F.max(F.col("val") + F.col("len")).alias("s"))
        )
        return (
            nodes.select("id")
            .join(up.select(F.col("b").alias("id"), "s"), "id", "left")
            .select("id", F.coalesce("s", F.lit(0.0)).alias("val"))
        )

    return _as_raster(nodes, _fixpoint(update, max_rounds, "farthest_channel_head"))


def distance_to_outlet(
    streams, dirs, cfg: GridConfig, max_rounds: int = 100
) -> DataFrame:
    """DistanceToOutlet (dist_to_outlet.rs:309-376): channel distance to
    the network outlet (outlets are 0), accumulated upstream."""
    nodes, edges = stream_graph(streams, dirs, cfg)

    def update(prev):
        if prev is None:
            return nodes.select("id", F.lit(0.0).alias("val"))
        dn = edges.join(prev, edges.b == prev.id).select(
            F.col("a").alias("id"), (F.col("val") + F.col("len")).alias("s")
        )
        return (
            nodes.select("id")
            .join(dn, "id", "left")
            .select("id", F.coalesce("s", F.lit(0.0)).alias("val"))
        )

    return _as_raster(nodes, _fixpoint(update, max_rounds, "distance_to_outlet"))


def topological_stream_order(
    streams, dirs, cfg: GridConfig, max_rounds: int = 100
) -> DataFrame:
    """TopologicalStreamOrder (topological_stream_order.rs:311-370): the
    outlet link is order 1; crossing upstream into a tributary at a
    junction (a cell with >= 2 inflowing stream links) adds 1."""
    nodes, edges = stream_graph(streams, dirs, cfg)
    inflow = edges.groupBy("b").agg(F.count(F.lit(1)).alias("n_in"))
    junction = inflow.where(F.col("n_in") >= 2).select(F.col("b").alias("jid"))
    step = (
        edges.join(junction, edges.b == junction.jid, "left")
        .select("a", "b", F.when(F.col("jid").isNotNull(), 1).otherwise(0).alias("inc"))
        .localCheckpoint(eager=True)
    )

    def update(prev):
        if prev is None:
            return nodes.select("id", F.lit(1).alias("val"))
        dn = step.join(prev, step.b == prev.id).select(
            F.col("a").alias("id"), (F.col("val") + F.col("inc")).alias("s")
        )
        return (
            nodes.select("id")
            .join(dn, "id", "left")
            .select("id", F.coalesce("s", F.lit(1)).alias("val"))
        )

    return _as_raster(nodes, _fixpoint(update, max_rounds, "topological_stream_order"))


def _links(nodes, edges):
    """(node id -> link id): links are maximal chains split at junctions;
    an edge stays intra-link iff its target has exactly one inflow. Link
    id = dense rank of the link's min row-major cell id (see module doc)."""
    inflow = edges.groupBy("b").agg(F.count(F.lit(1)).alias("n_in"))
    intra = edges.join(
        inflow.where(F.col("n_in") == 1).select("b"), "b", "left_semi"
    ).select("a", "b")
    comps = connected_components(intra, nodes.select("id"), "id")
    first = comps.groupBy("comp").agg(F.min("node").alias("first_id"))
    ranked = first.withColumn(
        "link", F.row_number().over(Window.orderBy("first_id"))
    )
    return comps.join(ranked, "comp").select(F.col("node").alias("id"), "link")


def stream_link_identifier(streams, dirs, cfg: GridConfig) -> DataFrame:
    """StreamLinkIdentifier (stream_link_id.rs) with canonical link ids."""
    nodes, edges = stream_graph(streams, dirs, cfg)
    links = _links(nodes, edges)
    return _as_raster(nodes, links.select("id", F.col("link").alias("val")))


def stream_link_length(streams, dirs, cfg: GridConfig) -> DataFrame:
    """StreamLinkLength (stream_link_length.rs:316-333): per-link sum of
    each member cell's outflowing stream-link grid length (the exit edge
    into the next link included, as in the reference)."""
    nodes, edges = stream_graph(streams, dirs, cfg)
    links = _links(nodes, edges)
    elen = edges.join(links, edges.a == links.id).groupBy("link").agg(
        F.sum("len").alias("llen")
    )
    vals = links.join(elen, "link", "left").select(
        "id", F.coalesce("llen", F.lit(0.0)).alias("val")
    )
    return _as_raster(nodes, vals)


def remove_short_streams(
    streams, dirs, cfg: GridConfig, min_length: float
) -> DataFrame:
    """RemoveShortStreams (remove_short_streams.rs): drop exterior
    (head-bearing) links shorter than ``min_length``; remaining stream
    cells are 1.0, everything else in the streams raster becomes 0.0."""
    nodes, edges = stream_graph(streams, dirs, cfg)
    links = _links(nodes, edges)
    heads = nodes.join(edges.select(F.col("b").alias("id")), "id", "left_anti").select(
        "id"
    )
    head_links = links.join(heads, "id", "left_semi").select("link").distinct()
    elen = edges.join(links, edges.a == links.id).groupBy("link").agg(
        F.sum("len").alias("llen")
    )
    short = (
        head_links.join(elen, "link", "left")
        .where(F.coalesce("llen", F.lit(0.0)) < min_length)
        .select("link")
    )
    removed = links.join(short, "link", "left_semi").select("id")
    kept = nodes.join(removed, "id", "left_anti").select(
        "row", "col", F.lit(1.0).alias("value")
    )
    rest = streams.join(kept.select("row", "col"), ["row", "col"], "left_anti").select(
        "row", "col", F.lit(0.0).alias("value")
    )
    return kept.unionByName(rest)
