"""Stream-network batch 2 (SURVEY.md §2.8): link classification and
slopes, Horton / Hack orders, tributary ids, main-stem extraction,
valley extraction, stream rasterization, long profile — all over the
shared stream graph from operators.streams.

Main-stem selection is engine-defined where the reference relies on
scan-order traversal: at a junction the *main* inflow edge is the one
with the greatest criterion (Strahler order for Horton, longest
upstream head-path for Hack / tributaries / main stem), ties to the
smallest cell id — deterministic under any partitioning.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from whitebox_tools_spark.operators.graph import changed, expand, fixpoint, size_hint
from whitebox_tools_spark.operators.gridding import GridConfig
from whitebox_tools_spark.operators.streams import stream_graph


def _as_raster(nodes, vals) -> DataFrame:
    return nodes.join(vals, "id").select(
        "row", "col", F.col("val").cast("double").alias("value")
    )


def stream_link_class(streams, dirs, cfg: GridConfig) -> DataFrame:
    """StreamLinkClass (stream_link_class.rs): 3 = source node (head),
    4 = link node (junction, >= 2 inflows), 5 = sink node (outlet),
    1 = other cells of an exterior (head-bearing) link, 2 = other cells
    of an interior link. Node codes take precedence."""
    from whitebox_tools_spark.operators.streams import _links

    nodes, edges = stream_graph(streams, dirs, cfg)
    inflow = edges.groupBy("b").agg(F.count(F.lit(1)).alias("n_in"))
    links = _links(nodes, edges)
    heads = nodes.join(edges.select(F.col("b").alias("id")), "id", "left_anti").select("id")
    outlets = nodes.join(edges.select(F.col("a").alias("id")), "id", "left_anti").select("id")
    junctions = inflow.where(F.col("n_in") >= 2).select(F.col("b").alias("id"))
    ext_links = links.join(heads, "id", "left_semi").select("link").distinct()
    lab = (
        links.join(ext_links.withColumnRenamed("link", "el"), links.link == F.col("el"), "left")
        .select("id", F.when(F.col("el").isNotNull(), 1).otherwise(2).alias("base"))
    )
    out = (
        lab.join(heads.withColumnRenamed("id", "h"), lab.id == F.col("h"), "left")
        .join(outlets.withColumnRenamed("id", "o"), lab.id == F.col("o"), "left")
        .join(junctions.withColumnRenamed("id", "j"), lab.id == F.col("j"), "left")
        .select(
            "id",
            F.when(F.col("h").isNotNull(), 3)
            .when(F.col("o").isNotNull(), 5)
            .when(F.col("j").isNotNull(), 4)
            .otherwise(F.col("base"))
            .alias("val"),
        )
    )
    return _as_raster(nodes, out)


def stream_slope_continuous(streams, dirs, z, cfg: GridConfig) -> DataFrame:
    """StreamSlopeContinuous (stream_slope_continuous.rs): per stream
    cell, degrees(atan((z - z_downstream)/len)); outlets are 0."""
    nodes, edges = stream_graph(streams, dirs, cfg)
    zmap = z.select((F.col("row") * cfg.cols + F.col("col")).alias("id"), F.col("value").alias("z"))
    e = (
        edges.join(zmap.withColumnRenamed("id", "a").withColumnRenamed("z", "za"), "a")
        .join(zmap.select(F.col("id").alias("b"), F.col("z").alias("zb")), "b")
        .select(
            F.col("a").alias("id"),
            F.degrees(F.atan((F.col("za") - F.col("zb")) / F.col("len"))).alias("val"),
        )
    )
    vals = nodes.select("id").join(e, "id", "left").select(
        "id", F.coalesce("val", F.lit(0.0)).alias("val")
    )
    return _as_raster(nodes, vals)


def stream_link_slope(streams, dirs, z, cfg: GridConfig) -> DataFrame:
    """StreamLinkSlope (stream_link_slope.rs): mean cell slope (degrees)
    of each link's out-edges, painted onto the link's cells."""
    from whitebox_tools_spark.operators.streams import _links

    nodes, edges = stream_graph(streams, dirs, cfg)
    links = _links(nodes, edges)
    zmap = z.select((F.col("row") * cfg.cols + F.col("col")).alias("id"), F.col("value").alias("z"))
    e = (
        edges.join(zmap.withColumnRenamed("id", "a").withColumnRenamed("z", "za"), "a")
        .join(zmap.select(F.col("id").alias("b"), F.col("z").alias("zb")), "b")
        .select(
            "a",
            F.degrees(F.atan((F.col("za") - F.col("zb")) / F.col("len"))).alias("sl"),
        )
    )
    per = (
        e.join(links.withColumnRenamed("id", "a"), "a")
        .groupBy("link")
        .agg((F.sum("sl") / F.count(F.lit(1))).alias("lslope"))
    )
    vals = links.join(per, "link", "left").select(
        "id", F.coalesce("lslope", F.lit(0.0)).alias("val")
    )
    return _as_raster(nodes, vals)


def _fh(nodes, edges, max_rounds, name):
    """Farthest-head distance per cell (0 at heads) — main-stem criterion."""
    cur = nodes.select("id", F.lit(0.0).alias("fh")).localCheckpoint(eager=True)
    small = cur.count() <= 2_000_000

    def step(cur):
        up = (
            edges.join(size_hint(cur, small), edges.a == cur.id)
            .groupBy("b")
            .agg(F.max(F.col("fh") + F.col("len")).alias("s"))
        )
        return (
            nodes.select("id")
            .join(size_hint(up.withColumnRenamed("b", "id"), small), "id", "left")
            .select("id", F.coalesce("s", F.lit(0.0)).alias("fh"))
        )

    return fixpoint(cur, step, changed("id", "fh"), max_rounds, name)


def _main_flags(nodes, edges, criterion):
    """Per edge a->b: is a the main inflow of b? criterion(a_edge row with
    fh/ord columns) -> Column; ties to min a."""
    w = Window.partitionBy("b").orderBy(criterion.desc(), F.col("a").asc())
    return edges.withColumn("rn", F.row_number().over(w)).select(
        "a", "b", "len", (F.col("rn") == 1).alias("is_main")
    )


def hack_order(streams, dirs, cfg: GridConfig, max_rounds: int = 100) -> DataFrame:
    """HackStreamOrder (hack_order.rs): outlet chain = 1; at a junction
    the longest-upstream inflow (farthest head-path, ties min cell id)
    continues the parent's order, other inflows get parent + 1."""
    nodes, edges = stream_graph(streams, dirs, cfg)
    fh = _fh(nodes, edges, max_rounds, "hack_order")
    ej = edges.join(fh.withColumnRenamed("id", "a"), "a")
    flags = _main_flags(nodes, ej, F.col("fh") + F.col("len")).localCheckpoint(eager=True)
    inflow = edges.groupBy("b").agg(F.count(F.lit(1)).alias("n_in"))
    step = (
        flags.join(inflow, "b")
        .select(
            "a", "b",
            F.when((F.col("n_in") >= 2) & (~F.col("is_main")), 1).otherwise(0).alias("inc"),
        )
        .localCheckpoint(eager=True)
    )
    cur = nodes.select("id", F.lit(1).alias("val")).localCheckpoint(eager=True)
    small = cur.count() <= 2_000_000

    def down(cur):
        dn = step.join(size_hint(cur, small), step.b == cur.id).select(
            F.col("a").alias("id"), (F.col("val") + F.col("inc")).alias("s")
        )
        return (
            nodes.select("id").join(size_hint(dn, small), "id", "left")
            .select("id", F.coalesce("s", F.lit(1)).alias("val"))
        )

    return _as_raster(nodes, fixpoint(cur, down, changed("id", "val"), max_rounds, "hack_order"))


def horton_order(streams, dirs, cfg: GridConfig, max_rounds: int = 100) -> DataFrame:
    """HortonStreamOrder (horton_order.rs): Strahler order propagated up
    the main trunk — a cell inherits its downstream cell's Horton order
    when it is the max-Strahler inflow (ties min cell id) or mid-link;
    otherwise its own Strahler order starts a new trunk."""
    from whitebox_tools_spark.operators.cluster import strahler_order

    nodes, edges = stream_graph(streams, dirs, cfg)
    strah = strahler_order(streams, dirs, cfg, max_rounds=64).select(
        (F.col("row") * cfg.cols + F.col("col")).alias("id"),
        F.col("value").alias("ord"),
    ).localCheckpoint(eager=True)
    ej = edges.join(strah.withColumnRenamed("id", "a").withColumnRenamed("ord", "aord"), "a")
    flags = _main_flags(nodes, ej, F.col("aord")).localCheckpoint(eager=True)
    inflow = edges.groupBy("b").agg(F.count(F.lit(1)).alias("n_in"))
    step = (
        flags.join(inflow, "b")
        .select(
            "a", "b",
            ((F.col("n_in") == 1) | F.col("is_main")).alias("inherit"),
        )
        .localCheckpoint(eager=True)
    )
    cur = strah.select("id", F.col("ord").alias("val")).localCheckpoint(eager=True)
    small = cur.count() <= 2_000_000

    def down(cur):
        dn = (
            step.where(F.col("inherit"))
            .join(size_hint(cur, small), step.b == cur.id)
            .select(F.col("a").alias("id"), F.col("val").alias("s"))
        )
        return strah.join(size_hint(dn, small), "id", "left").select(
            "id", F.coalesce("s", F.col("ord")).alias("val")
        )

    return _as_raster(
        nodes, fixpoint(cur, down, changed("id", "val"), max_rounds, "horton_order")
    )


def tributary_id(streams, dirs, cfg: GridConfig, max_rounds: int = 100) -> DataFrame:
    """TributaryIdentifier (tributary_id.rs): a tributary runs from a
    head downstream while it remains the main (longest-upstream) inflow;
    ids are the dense rank of the tributary's head cell id."""
    nodes, edges = stream_graph(streams, dirs, cfg)
    fh = _fh(nodes, edges, max_rounds, "tributary_id")
    ej = edges.join(fh.withColumnRenamed("id", "a"), "a")
    flags = _main_flags(nodes, ej, F.col("fh") + F.col("len")).localCheckpoint(eager=True)
    # propagate the head id downstream along main edges
    cur = nodes.select("id", F.col("id").alias("val")).localCheckpoint(eager=True)
    small = cur.count() <= 2_000_000

    def step(cur):
        up = (
            flags.where(F.col("is_main"))
            .join(size_hint(cur, small), F.col("a") == cur.id)
            .select(F.col("b").alias("id"), F.col("val").alias("s"))
        )
        return (
            nodes.select("id")
            .join(size_hint(up, small), "id", "left")
            .select("id", F.coalesce("s", F.col("id")).alias("val"))
        )

    cur = fixpoint(cur, step, changed("id", "val"), max_rounds, "tributary_id")
    ranked = cur.select("val").distinct().withColumn(
        "tid", F.row_number().over(Window.orderBy("val"))
    )
    vals = cur.join(ranked, "val").select("id", F.col("tid").alias("val"))
    return _as_raster(nodes, vals)


def find_main_stem(streams, dirs, cfg: GridConfig, max_rounds: int = 100) -> DataFrame:
    """FindMainStem (find_main_stem.rs): 1.0 on the chain followed from
    each outlet through successive main (longest-upstream) inflows,
    0.0 on other stream cells."""
    nodes, edges = stream_graph(streams, dirs, cfg)
    fh = _fh(nodes, edges, max_rounds, "find_main_stem")
    ej = edges.join(fh.withColumnRenamed("id", "a"), "a")
    flags = _main_flags(nodes, ej, F.col("fh") + F.col("len")).localCheckpoint(eager=True)
    outlets = nodes.join(edges.select(F.col("a").alias("id")), "id", "left_anti").select("id")
    small = nodes.count() <= 2_000_000

    def step(frontier, on):
        return (
            flags.where(F.col("is_main"))
            .join(size_hint(frontier, small), flags.b == frontier.id)
            .select(F.col("a").alias("id"))
            .join(
                size_hint(on.withColumnRenamed("id", "k"), small),
                F.col("id") == F.col("k"),
                "left_anti",
            )
        )

    on = expand(outlets.localCheckpoint(eager=True), step, max_rounds, "find_main_stem")
    vals = nodes.select("id").join(
        on.select(F.col("id").alias("m")), nodes.id == F.col("m"), "left"
    ).select("id", F.when(F.col("m").isNotNull(), 1.0).otherwise(0.0).alias("val"))
    return _as_raster(nodes, vals)


def extract_valleys_lq(
    raster: DataFrame, cfg: GridConfig, rx: int = 2, ry: int = 2,
    threshold: float = 25.0, tile_size: int = 128,
) -> DataFrame:
    """ExtractValleys (extract_valleys.rs, lower-quartile variant, engine
    square-window form): valley cell (1.0) where the cell's window
    elevation percentile <= threshold, else 0.0."""
    from whitebox_tools_spark.operators.terrain import elev_percentile

    p = elev_percentile(raster, cfg, rx=rx, ry=ry, tile_size=tile_size)
    return p.select(
        "row", "col",
        F.when(F.col("value") <= threshold, 1.0).otherwise(0.0).alias("value"),
    )


def rasterize_streams(segments: DataFrame, cfg: GridConfig) -> DataFrame:
    """RasterizeStreams / VectorLinesToRaster sampling form
    (rasterize_streams.rs, vector_lines_to_raster.rs): sample each
    segment every res_x/2 map units (endpoints included), snap samples
    to cells (floor transforms), emit distinct stream cells as 1.0.
    Engine sampling semantics — exactly mirrored in the oracle."""
    step = cfg.res_x / 2.0
    n_steps = F.greatest(
        F.ceil(
            F.sqrt(
                (F.col("x2") - F.col("x1")) * (F.col("x2") - F.col("x1"))
                + (F.col("y2") - F.col("y1")) * (F.col("y2") - F.col("y1"))
            ) / step
        ).cast("long"),
        F.lit(1),
    )
    seg = segments.withColumn("n", n_steps)
    ks = seg.select(
        "seg_id", "x1", "y1", "x2", "y2", "n",
        F.explode(F.sequence(F.lit(0), F.col("n"))).alias("k"),
    )
    t = F.col("k").cast("double") / F.col("n").cast("double")
    x = F.col("x1") + t * (F.col("x2") - F.col("x1"))
    y = F.col("y1") + t * (F.col("y2") - F.col("y1"))
    row = F.floor((F.lit(cfg.north) - y) / cfg.res_y).cast("long")
    col = F.floor((x - F.lit(cfg.west)) / cfg.res_x).cast("long")
    cells = ks.select(row.alias("row"), col.alias("col")).where(
        (F.col("row") >= 0) & (F.col("row") < cfg.rows)
        & (F.col("col") >= 0) & (F.col("col") < cfg.cols)
    )
    return cells.distinct().select("row", "col", F.lit(1.0).alias("value"))


def long_profile(streams, dirs, z, cfg: GridConfig) -> DataFrame:
    """LongProfile (long_profile.rs): per stream cell, the channel
    distance to the outlet and its elevation (the profile curve)."""
    from whitebox_tools_spark.operators.streams import distance_to_outlet

    d = distance_to_outlet(streams, dirs, cfg)
    zmap = z.select("row", "col", F.col("value").alias("z"))
    return d.join(zmap, ["row", "col"]).select(
        "row", "col", F.col("value").alias("dist"), "z"
    )
