"""Vector <-> raster conversion family.

Parity contracts:
- VectorPointsToRaster (src/tools/data_tools/vector_points_to_raster.rs:
  386-500): per point, ``row = floor((north - y)/res_y)``, ``col =
  floor((x - west)/res_x)`` (raster/mod.rs:620-642); multi-point cells
  resolved by --assign: first (first record in file order wins), last
  (default; last record wins), min, max, sum. Out-of-grid points ignored.
- VectorPolygonsToRaster (vector_polygons_to_raster.rs:386-560): per
  record *in file order*: the record's hole parts are painted into a
  per-record hole mask first, then each shell part paints
  ``attribute[record]`` into every cell whose CENTER passes
  ``point_in_poly`` against the shell ring, unless the same record's hole
  mask covers the cell. set_value is unconditional -> LAST record wins.
- RasterToVectorPoints (raster_to_vector_points.rs:206-229): row-major
  scan; cells with value != 0 and != nodata become points at the cell
  center with FID = 1-based scan ordinal, VALUE = cell value.
- ExtractRasterValuesAtPoints (extract_raster_values_at_points.rs:
  246-253): per point, raster value at its (row, col); out-of-grid reads
  return nodata.
- ClipRasterToPolygon / ErasePolygonFromRaster (clip_raster_to_polygon.rs:
  236-300, erase_polygon_from_raster.rs): keep (resp. drop) the cells
  whose center is inside the polygon layer, holes honoured.

Representation: a raster is the long-form DataFrame (row, col, value) —
cells absent or null = NoData. The grid geometry lives in GridConfig
(per-dataset metadata, never per-row). Dense tile form for focal ops is in
operators/focal.py.

Scale design: every op here is a single projection + at most one
groupBy/join. Paint and clip are point-in-polygon on cell centers: both
call ``pip.tag_polygon``, whose 'auto' strategy picks by layer size — the
JVM expression fold (no Python) up to ``pip.EXPR_MAX_VERTICES`` layer
vertices, the Arrow UDF over (x, y) only above that. No op here runs
mapInPandas.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whitebox_tools_spark.localrel import local_df
from whitebox_tools_spark.operators.gridding import GridConfig, cell_centers
from whitebox_tools_spark.operators.pip import tag_polygon
from whitebox_tools_spark.sources.vectors import PolygonFeature

ASSIGN_MODES = ("first", "last", "min", "max", "sum")


def rowcol_cols(cfg: GridConfig, x: str = "x", y: str = "y"):
    """(row, col) Columns under the standard cell transform
    (raster/mod.rs:620-642)."""
    row = F.floor((F.lit(cfg.north) - F.col(y)) / F.lit(cfg.res_y))
    col = F.floor((F.col(x) - F.lit(cfg.west)) / F.lit(cfg.res_x))
    return row.cast("long"), col.cast("long")


def center_cols(cfg: GridConfig, row: str = "row", col: str = "col"):
    """(x, y) cell-center Columns (raster/mod.rs:620-642 form)."""
    x = F.lit(cfg.west) + F.lit(cfg.res_x / 2.0) + F.col(col).cast("double") * F.lit(cfg.res_x)
    y = F.lit(cfg.north) - F.lit(cfg.res_y / 2.0) - F.col(row).cast("double") * F.lit(cfg.res_y)
    return x, y


def _in_grid(cfg: GridConfig):
    return (
        (F.col("row") >= 0)
        & (F.col("row") < cfg.rows)
        & (F.col("col") >= 0)
        & (F.col("col") < cfg.cols)
    )


def points_to_raster(
    points: DataFrame,
    cfg: GridConfig,
    assign: str = "last",
    field: str = "z",
    record: str = "doc_id",
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """VectorPointsToRaster. Output (row, col, value); empty cells omitted
    (= background). ``record`` supplies the file record order the
    first/last modes depend on — carried explicitly so the distributed agg
    is deterministic (max_by/min_by on record id)."""
    if assign not in ASSIGN_MODES:
        raise ValueError(f"assign must be one of {ASSIGN_MODES}")
    row, col = rowcol_cols(cfg, x, y)
    base = points.select(
        row.alias("row"), col.alias("col"), F.col(field).alias("_v"), F.col(record).alias("_r")
    ).where(_in_grid(cfg))
    g = base.groupBy("row", "col")
    if assign == "first":
        out = g.agg(F.min_by("_v", "_r").alias("value"))
    elif assign == "last":
        out = g.agg(F.max_by("_v", "_r").alias("value"))
    elif assign == "min":
        out = g.agg(F.min("_v").alias("value"))
    elif assign == "max":
        out = g.agg(F.max("_v").alias("value"))
    else:
        out = g.agg(F.sum("_v").alias("value"))
    return out


def raster_to_vector_points(raster: DataFrame, cfg: GridConfig) -> DataFrame:
    """RasterToVectorPoints. Input (row, col, value) long-form raster;
    output (fid, x, y, value) with FID = 1-based row-major scan ordinal
    (raster_to_vector_points.rs:206-229)."""
    from pyspark.sql import Window

    kept = raster.where(
        F.col("value").isNotNull() & (F.col("value") != 0.0) & (F.col("value") != cfg.nodata)
    )
    xc, yc = center_cols(cfg)
    w = Window.orderBy("row", "col")
    return kept.select(
        F.row_number().over(w).cast("int").alias("fid"),
        xc.alias("x"),
        yc.alias("y"),
        F.col("value"),
    )


def extract_raster_values_at_points(
    points: DataFrame,
    raster: DataFrame,
    cfg: GridConfig,
    out: str = "VALUE1",
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """ExtractRasterValuesAtPoints: adds ``out`` = raster value at each
    point's cell; nodata where the cell is empty/out of grid.

    The raster side is grouped per cell already; Spark picks broadcast vs
    shuffle join by size (the raster long-form is usually the small side
    after filtering)."""
    row, col = rowcol_cols(cfg, x, y)
    pts = points.withColumn("row", row).withColumn("col", col)
    r = raster.select("row", "col", F.col("value").alias("_rv"))
    joined = pts.join(r, ["row", "col"], "left")
    return joined.withColumn(out, F.coalesce(F.col("_rv"), F.lit(cfg.nodata))).drop(
        "_rv", "row", "col"
    )


# ------------------------------------------------------------ polygon paint


def polygons_to_raster(
    spark: SparkSession,
    layer: list[PolygonFeature],
    cfg: GridConfig,
    field: str = "zone",
) -> DataFrame:
    """VectorPolygonsToRaster. Output (row, col, value) for painted cells.

    The grid is generated JVM-side and tagged with the record index of the
    last record that paints each cell centre (``tag_polygon``'s
    shell_then_hole rule); a broadcast join maps the index to the value."""
    # cell_centers uses (col+0.5)*res form; the paint tools use the
    # res/2 + col*res form (raster/mod.rs:620) — same values for the
    # fixtures' exact binary res, and kept consistent with the oracle SQL.
    recs = [dataclasses.replace(f, fid=i) for i, f in enumerate(layer)]
    # a VALUES table needs a row: an empty layer gets one no tag matches
    values = local_df(
        spark,
        [(i, float(f.attrs.get(field, f.fid))) for i, f in enumerate(layer)] or [(-1, 0.0)],
        columns=["_rec", "value"],
    )
    cells = tag_polygon(cell_centers(spark, cfg), recs, "shell_then_hole", out="_rec")
    # null-safe keys: a plain equi-join infers `_rec IS NOT NULL` and
    # pushes it below the tag's projection, which evaluates the tag twice
    on = cells["_rec"].eqNullSafe(values["_rec"])
    return cells.join(F.broadcast(values), on).select("row", "col", "value")


def clip_raster_to_polygon(
    raster: DataFrame,
    layer: list[PolygonFeature],
    cfg: GridConfig,
    erase: bool = False,
) -> DataFrame:
    """ClipRasterToPolygon / ErasePolygonFromRaster: drop the cells whose
    center falls outside (resp. inside) the layer; holes honoured
    (clip_raster_to_polygon.rs:236-300). Inside = the centre's
    ``tag_polygon(..., "shell_then_hole")`` tag is set: pip's one fold
    over feature records, where a hole hit leaves the earlier tag, so a
    centre in one record's hole stays inside if an earlier record holds
    it (the paint rule)."""
    x, y = center_cols(cfg)
    cells = raster.withColumns({"_cx": x, "_cy": y})
    cells = tag_polygon(cells, layer, "shell_then_hole", "_cx", "_cy", "_tag")
    tag = F.col("_tag")
    return cells.where(tag.isNull() if erase else tag.isNotNull()).drop("_cx", "_cy", "_tag")


def flip_image(
    raster: DataFrame, cfg: GridConfig, direction: str = "vertical"
) -> DataFrame:
    """FlipImage (image_analysis/flip_image.rs): reflect the raster about
    the horizontal axis ('vertical' flips rows), the vertical axis
    ('horizontal' flips cols), or both. Pure projection — no shuffle."""
    row, col = F.col("row"), F.col("col")
    if direction in ("vertical", "both"):
        row = F.lit(cfg.rows - 1) - F.col("row")
    if direction in ("horizontal", "both"):
        col = F.lit(cfg.cols - 1) - F.col("col")
    if direction not in ("vertical", "horizontal", "both"):
        raise ValueError("direction must be vertical|horizontal|both")
    return raster.select(row.alias("row"), col.alias("col"), "value")


def image_stack_profile(
    points: DataFrame,
    rasters: list[DataFrame],
    cfg: GridConfig,
    record: str = "doc_id",
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """ImageStackProfile (image_analysis/image_stack_profile.rs): sample
    every raster in the stack at each point -> (record, image index, z).
    One cell-key equi-join per raster, unioned."""
    row, col = rowcol_cols(cfg, x, y)
    p = points.select(F.col(record), row.alias("row"), col.alias("col")).where(
        (F.col("row") >= 0) & (F.col("row") < cfg.rows)
        & (F.col("col") >= 0) & (F.col("col") < cfg.cols)
    )
    parts = [
        p.join(r, ["row", "col"], "left").select(
            record, F.lit(i).alias("image"), F.col("value").alias("z")
        )
        for i, r in enumerate(rasters)
    ]
    out = parts[0]
    for nxt in parts[1:]:
        out = out.unionByName(nxt)
    return out
