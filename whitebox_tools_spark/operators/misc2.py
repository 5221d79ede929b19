"""Final coverage batch: multiscale position/roughness composites,
KS normality (closed-form normal CDF), histogram matching, flightline
edges, simple ground filtering, stream vectorization, downslope index,
window normal deviation, simplified geomorphons.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from whitebox_tools_spark.operators.gridding import GridConfig

# Abramowitz & Stegun 7.1.26 erf approximation — identical constants on
# the SQL side, so the approximation IS the engine definition.
_ERF_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)
_ERF_P = 0.3275911


def _phi(x):
    """Normal CDF via the A&S erf polynomial (column expression)."""
    z = x / math.sqrt(2.0)
    s = F.when(z < 0.0, -1.0).otherwise(1.0)
    az = F.abs(z)
    t = 1.0 / (1.0 + _ERF_P * az)
    a1, a2, a3, a4, a5 = _ERF_A
    poly = ((((a5 * t + a4) * t) + a3) * t + a2) * t + a1
    erf = 1.0 - poly * t * F.exp(-az * az)
    return 0.5 * (1.0 + s * erf)


def ks_test_normality(raster: DataFrame) -> DataFrame:
    """KsTestForNormality (math_stat_analysis/ks_test_for_normality.rs):
    D = max |ECDF(z) - Phi((z - mean)/sd)| over cells; sample sd."""
    st = raster.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("s"),
        F.sum(F.col("value") * F.col("value")).alias("ss"),
    )
    n = F.col("n").cast("double")
    mean = F.col("s") / n
    sd = F.sqrt((F.col("ss") - F.col("s") * F.col("s") / n) / (n - 1.0))
    per = raster.groupBy("value").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    cdf = per.select("value", F.sum("cnt").over(w).cast("double").alias("c"))
    j = cdf.crossJoin(F.broadcast(st.select(n.alias("nn"), mean.alias("mu"), sd.alias("sd"))))
    d = F.abs(F.col("c") / F.col("nn") - _phi((F.col("value") - F.col("mu")) / F.col("sd")))
    return j.agg(
        F.any_value("nn").cast("long").alias("n"),
        F.any_value("mu").alias("mean"),
        F.any_value("sd").alias("sd"),
        F.max(d).alias("d_stat"),
    )


def histogram_matching(inp: DataFrame, ref: DataFrame) -> DataFrame:
    """HistogramMatchingTwoImages (histogram_matching_two_images.rs,
    exact-rank step form): out(z) = the smallest reference value whose
    cdf fraction >= the input value's cdf fraction."""
    def cdf_of(df):
        per = df.groupBy("value").agg(F.count(F.lit(1)).alias("cnt"))
        w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
        n = df.count()
        return per.select(
            "value", (F.sum("cnt").over(w).cast("double") / float(n)).alias("p")
        )

    ci = cdf_of(inp)
    cr = cdf_of(ref).select(F.col("value").alias("rv"), F.col("p").alias("rp"))
    match = (
        ci.join(cr, F.col("rp") >= F.col("p"))
        .groupBy("value", "p")
        .agg(F.min("rv").alias("out"))
    )
    return inp.join(match.select("value", "out"), "value").select(
        "row", "col", F.col("out").alias("value")
    )


def find_flightline_edge_points(geo: DataFrame, radius: float = 100.0) -> DataFrame:
    """FindFlightlineEdgePoints (lidar_analysis/find_flightline_edge_
    points.rs, psid form): a point is an edge point (1.0) iff some
    radius neighbour belongs to a different hash-derived flightline."""
    from whitebox_tools_spark.operators.lidar import with_flightline
    from whitebox_tools_spark.operators.radius_join import radius_join

    g = with_flightline(geo)
    p = g.select(F.col("doc_id").alias("pid"), "x", "y", F.col("psid").alias("psid"))
    q = g.select("doc_id", "x", "y", "psid")
    j = radius_join(p, q, radius, squared=True)
    edge = (
        j.where(F.col("psid_p") != F.col("psid"))
        .select("doc_id")
        .distinct()
        .withColumn("_e", F.lit(1.0))
    )
    return g.join(edge, "doc_id", "left").select(
        "doc_id", F.coalesce("_e", F.lit(0.0)).alias("edge")
    )


def lidar_ground_point_filter(
    geo: DataFrame, radius: float = 100.0, height_threshold: float = 20.0
) -> DataFrame:
    """LidarGroundPointFilter (lidar_analysis/lidar_ground_point_filter
    .rs, simplified local-minimum form): off-ground (class 1) when the
    point sits more than height_threshold above the lowest point within
    the radius, ground (class 2) otherwise."""
    from whitebox_tools_spark.operators.lidar import _self_radius

    j = _self_radius(geo, radius)
    mn = j.groupBy("doc_id", "z").agg(F.min("z_p").alias("mn"))
    return mn.select(
        "doc_id",
        F.when(F.col("z") - F.col("mn") > height_threshold, 1.0)
        .otherwise(2.0)
        .alias("cls_out"),
    )


def raster_streams_to_vector(streams, dirs, z, cfg: GridConfig) -> DataFrame:
    """RasterStreamsToVector / RasterToVectorLines (raster_streams_to_
    vector.rs): per stream link, the ordered vertex chain (cell centres,
    ordered by descending distance-to-outlet); output
    (link, vertex, x, y)."""
    from whitebox_tools_spark.operators.streams import (
        _links, distance_to_outlet, stream_graph,
    )

    nodes, edges = stream_graph(streams, dirs, cfg)
    links = _links(nodes, edges)
    d = distance_to_outlet(streams, dirs, cfg).select(
        "row", "col", F.col("value").alias("dist")
    )
    cells = (
        nodes.join(links, "id")
        .join(d, ["row", "col"])
        .select("link", "row", "col", "dist")
    )
    w = Window.partitionBy("link").orderBy(F.col("dist").desc(), F.col("row"), F.col("col"))
    return cells.withColumn("vertex", F.row_number().over(w)).select(
        "link",
        "vertex",
        (F.lit(cfg.west) + (F.col("col").cast("double") + 0.5) * cfg.res_x).alias("x"),
        (F.lit(cfg.north) - (F.col("row").cast("double") + 0.5) * cfg.res_y).alias("y"),
    )


def downslope_index(
    raster: DataFrame, cfg: GridConfig, drop: float = 5.0,
    max_rounds: int = 400, tile_size: int = 128,
) -> DataFrame:
    """DownslopeIndex (terrain_analysis/downslope_index.rs, Hjerdt 2004):
    angle = degrees(atan(drop / dist)), dist = flow-path distance to the
    first cell at least ``drop`` lower; cells whose path never drops that
    far are NoData."""
    from whitebox_tools_spark.operators.graph import _empty, _rounds
    from whitebox_tools_spark.operators.hydro2 import d8_graph

    nodes, edges = d8_graph(raster, cfg, tile_size)
    zmap = raster.select(
        (F.col("row") * cfg.cols + F.col("col")).alias("id"), F.col("value").alias("z")
    )
    # frontier walk carrying (src, cur, dist); stop when z(src) - z(cur) >= drop
    start = nodes.select(F.col("id").alias("src"), F.col("id").alias("cur"), F.lit(0.0).alias("d"))
    frontier = start.join(zmap.select(F.col("id").alias("src"), F.col("z").alias("z0")), "src")
    frontier = frontier.join(zmap.select(F.col("id").alias("cur"), F.col("z").alias("zc")), "cur")
    reached = frontier.where(F.col("z0") - F.col("zc") >= drop).select("src", "d")
    done = reached.localCheckpoint(eager=True)
    active = frontier.where(F.col("z0") - F.col("zc") < drop).select(
        "src", "cur", "d", "z0"
    ).localCheckpoint(eager=True)

    # not a graph.expand walk: the frontier (live walks) and the result
    # (walks that reached the drop) are different row sets
    def advance(state):
        done, active = state
        step = (
            active.join(edges, active.cur == edges.a)
            .select("src", F.col("b").alias("cur"), (F.col("d") + F.col("len")).alias("d"), "z0")
        )
        if _empty(step):
            return state, True
        step = step.join(zmap.select(F.col("id").alias("cur"), F.col("z").alias("zc")), "cur")
        newly = step.where(F.col("z0") - F.col("zc") >= drop).select("src", "d")
        done = done.unionByName(newly).localCheckpoint(eager=True)
        active = step.where(F.col("z0") - F.col("zc") < drop).select(
            "src", "cur", "d", "z0"
        ).localCheckpoint(eager=True)
        return (done, active), False

    done, _ = _rounds((done, active), advance, max_rounds, "downslope_index")
    best = done.groupBy("src").agg(F.min("d").alias("dist"))
    return (
        nodes.join(best.withColumnRenamed("src", "id"), "id")
        .select(
            "row", "col",
            F.degrees(F.atan(F.lit(drop) / F.col("dist"))).alias("value"),
        )
    )


def average_normal_vector_angular_deviation(
    raster: DataFrame, cfg: GridConfig, rx: int = 2, ry: int = 2, tile_size: int = 128
) -> DataFrame:
    """AverageNormalVectorAngularDeviation (average_normal_vector_
    angular_deviation.rs, no pre-blur): mean over the window of
    acos(n . nbar/|nbar|) in degrees, n the Horn surface normals."""
    from whitebox_tools_spark.operators.focal import focal_apply, horn_fxfy

    def stencil(block, valid, base_r, base_c, cfg_):
        fx, fy = horn_fxfy(block, valid, 1.0, cfg_.res_x)
        with np.errstate(invalid="ignore", divide="ignore"):
            norm = np.sqrt(fx * fx + fy * fy + 1.0)
            nx = np.where(valid, -fx / norm, 0.0)
            ny = np.where(valid, -fy / norm, 0.0)
            nz = np.where(valid, 1.0 / norm, 0.0)
        m = valid.astype(np.float64)
        size_r, size_c = block.shape

        def wsum(src):
            acc = np.zeros_like(block)
            for dy in range(-ry, ry + 1):
                for dx in range(-rx, rx + 1):
                    sh = np.zeros_like(block)
                    src_r = slice(max(dy, 0), size_r + min(dy, 0))
                    dst_r = slice(max(-dy, 0), size_r + min(-dy, 0))
                    src_c = slice(max(dx, 0), size_c + min(dx, 0))
                    dst_c = slice(max(-dx, 0), size_c + min(-dx, 0))
                    sh[dst_r, dst_c] = src[src_r, src_c]
                    acc += sh
            return acc

        sx, sy, sz, n = wsum(nx), wsum(ny), wsum(nz), wsum(m)
        with np.errstate(invalid="ignore", divide="ignore"):
            mnorm = np.sqrt(sx * sx + sy * sy + sz * sz)
            bx, by, bz = sx / mnorm, sy / mnorm, sz / mnorm
        # second window pass: mean acos(n . bbar(center)) — every member
        # uses the CENTER's mean normal, so distribute center values out
        dots = np.zeros_like(block)
        for dy in range(-ry, ry + 1):
            for dx in range(-rx, rx + 1):
                shx = np.zeros_like(block); shy = np.zeros_like(block)
                shz = np.zeros_like(block); shm = np.zeros_like(block)
                src_r = slice(max(dy, 0), size_r + min(dy, 0))
                dst_r = slice(max(-dy, 0), size_r + min(-dy, 0))
                src_c = slice(max(dx, 0), size_c + min(dx, 0))
                dst_c = slice(max(-dx, 0), size_c + min(-dx, 0))
                shx[dst_r, dst_c] = nx[src_r, src_c]
                shy[dst_r, dst_c] = ny[src_r, src_c]
                shz[dst_r, dst_c] = nz[src_r, src_c]
                shm[dst_r, dst_c] = m[src_r, src_c]
                with np.errstate(invalid="ignore"):
                    dot = np.clip(shx * bx + shy * by + shz * bz, -1.0, 1.0)
                    dots += np.where(shm > 0, np.degrees(np.arccos(dot)), 0.0)
        with np.errstate(invalid="ignore", divide="ignore"):
            out = dots / n
        return np.where(valid & (n > 0), out, np.nan)

    return focal_apply(raster, cfg, stencil, max(rx, ry) + 1, tile_size)


def multiscale_topographic_position(
    raster: DataFrame, cfg: GridConfig, radii=(1, 2, 3), tile_size: int = 128
) -> DataFrame:
    """MultiscaleTopographicPositionImage (multiscale_topographic_
    position_image.rs): dev-from-mean at three scales packed as byte
    channels (r = largest scale), each normalized by its own min/max."""
    from whitebox_tools_spark.operators.color import create_colour_composite
    from whitebox_tools_spark.operators.terrain import dev_from_mean_elev

    devs = [
        dev_from_mean_elev(raster, cfg, rx=r, ry=r, tile_size=tile_size)
        for r in radii
    ]
    return create_colour_composite(devs[2], devs[1], devs[0])


def multiscale_roughness(
    raster: DataFrame, cfg: GridConfig, radii=(1, 2, 3), tile_size: int = 128
) -> DataFrame:
    """MultiscaleRoughness / MultiscaleStdDevNormals (multiscale_
    roughness.rs): the spherical stddev of normals of largest magnitude
    across the radii, plus the radius it came from (ties smallest)."""
    from whitebox_tools_spark.operators.terrain3 import spherical_stdev_of_normals

    parts = []
    for r in radii:
        d = spherical_stdev_of_normals(raster, cfg, rx=r, ry=r, tile_size=tile_size)
        parts.append(d.select("row", "col", "value", F.lit(r).alias("scale")))
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    w = Window.partitionBy("row", "col").orderBy(
        F.col("value").desc(), F.col("scale").asc()
    )
    return (
        u.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("row", "col", "value", F.col("scale").cast("double").alias("scale"))
    )
