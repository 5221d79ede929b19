"""Query catalog: native-format codecs (GeoTIFF / ArcASCII / LAS / Shapefile).

Each roundtrip query pushes engine data THROUGH the byte codec (encode ->
decode, the decode running distributed via binaryFile + mapInPandas) and
returns cell/point values; the DuckDB oracle computes what a lossless
roundtrip must return, reproducing any quantization the format performs
(LAS stores x/y/z as i32 * 0.001 + offset, las.rs:152-154). A hash match
therefore certifies the codec end-to-end, not just the query.

Temp files live in a per-call ``tempfile.mkdtemp`` — the queries stay
deterministic because no path appears in the output.
"""

from __future__ import annotations

import dataclasses
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whitebox_tools_spark import derive
from whitebox_tools_spark.catalog_grid import (
    GRID,
    _CELLS_CTE,
    _oracle_block,
    _oracle_points_raster,
    _PTS_CTE,
)
from whitebox_tools_spark.io import ascii_grid, geotiff, las, shapefile, whitebox_raster
from whitebox_tools_spark.operators.gridding import block_grid
from whitebox_tools_spark.operators.raster import points_to_raster
from whitebox_tools_spark.sources import vectors
from whitebox_tools_spark.sources.tables import documents


def _docs_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    return derive.with_geometry(documents(spark, sf_dir), "doc_id")


# ------------------------------------------------------------- raster codecs


def q_geotiff_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """block-max grid -> GeoTIFF (f8, deflate) -> distributed decode.
    The file is written with a projected CRS (EPSG 26917) riding the
    GeoKeyDirectory tag; the decoded header's code is emitted per-row so
    the oracle pins the CRS carry-through alongside the pixel values."""
    pts = _docs_geo(spark, sf_dir).select("x", "y", "z")
    grid = block_grid(pts, GRID, stat="max")
    d = tempfile.mkdtemp(prefix="wts_tif_")
    path = os.path.join(d, "grid.tif")
    geotiff.write_geotiff(grid, dataclasses.replace(GRID, epsg=26917),
                          path, dtype="f8")
    back = geotiff.read_geotiff(spark, path, drop_nodata=True)
    decoded_epsg = geotiff.read_geotiff_config(path).epsg
    return back.select(
        F.col("row").alias("cell_row"), F.col("col").alias("cell_col"), "value",
        F.lit(int(decoded_epsg)).alias("epsg"),
    )


def q_arcascii_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """block-min grid -> Arc ASCII (repr full precision) -> decode."""
    pts = _docs_geo(spark, sf_dir).select("x", "y", "z")
    grid = block_grid(pts, GRID, stat="min")
    d = tempfile.mkdtemp(prefix="wts_asc_")
    path = os.path.join(d, "grid.asc")
    ascii_grid.write_arcascii(grid, GRID, path)
    back = ascii_grid.read_arcascii(spark, path, drop_nodata=True)
    return back.select(
        F.col("row").alias("cell_row"), F.col("col").alias("cell_col"), "value"
    )


def q_whitebox_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """points-to-raster max grid -> Whitebox GAT .dep/.tas (the
    reference's native format, whitebox_raster.rs) -> distributed decode."""
    pts = _docs_geo(spark, sf_dir)
    grid = points_to_raster(pts, GRID, assign="max")
    d = tempfile.mkdtemp(prefix="wts_wbr_")
    base = os.path.join(d, "grid")
    whitebox_raster.write_whitebox(grid, GRID, base, data_type="double")
    back = whitebox_raster.read_whitebox(spark, base + ".tas", drop_nodata=True)
    return back.select(
        F.col("row").alias("cell_row"), F.col("col").alias("cell_col"), "value"
    )


def q_surfer7_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """points-to-raster min grid -> Surfer 7 binary .grd (f8 DATA
    section, bottom-to-top) -> decode. Empty cells carry Surfer's forced
    1.71041e38 nodata (raster/mod.rs:227-231) and are filtered."""
    from whitebox_tools_spark.io import convert, simple_grids

    pts = _docs_geo(spark, sf_dir)
    grid = points_to_raster(pts, GRID, assign="min")
    d = tempfile.mkdtemp(prefix="wts_grd_")
    path = os.path.join(d, "grid.grd")
    convert.write_raster(grid, GRID, path)
    _, back = convert.read_raster(spark, path)
    return back.where(F.col("value") != F.lit(simple_grids.SURFER_NODATA)).select(
        F.col("row").alias("cell_row"), F.col("col").alias("cell_col"), "value"
    )


def q_grass_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """points-to-raster first grid -> GRASS ASCII -> decode (repr() full
    precision, lossless f8)."""
    from whitebox_tools_spark.io import convert

    pts = _docs_geo(spark, sf_dir)
    grid = points_to_raster(pts, GRID, assign="first")
    d = tempfile.mkdtemp(prefix="wts_grass_")
    path = os.path.join(d, "grid.grass")
    convert.write_raster(grid, GRID, path)
    _, back = convert.read_raster(spark, path)
    return back.where(F.col("value") != F.lit(GRID.nodata)).select(
        F.col("row").alias("cell_row"), F.col("col").alias("cell_col"), "value"
    )


def q_jpeg_in_tiff_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG-in-TIFF (Compression 7, TIFF TechNote 2) write -> read. The
    reference REJECTS this variant (geotiff/mod.rs:424-432); the engine
    writes self-contained baseline-JPEG strips and reads both those and
    JPEGTables-abbreviated files via the in-repo T.81 codec. The grid is
    flat per 4-row strip with constants that are FIXED POINTS of the
    quality-90 DC chain ((v-128) % 3 == 0 -> the lossy codec returns v
    exactly), so a value-hash match certifies the strip segmentation,
    the per-strip JPEG encode/decode, the partial-strip crop and the
    GeoKey CRS carry-through — exactly, despite the lossy format.
    Arbitrary-content laws live in tests/test_io_formats.py."""
    rows, cols = GRID.rows, GRID.cols
    cells = spark.range(rows * cols).select(
        (F.col("id") / cols).cast("int").alias("row"),
        (F.col("id") % cols).cast("int").alias("col"),
    )
    vals = cells.withColumn(
        "value",
        (F.lit(128) + 3 * ((F.floor(F.col("row") / 4) * 7) % 21 - 10)
         ).cast("double"),
    )
    d = tempfile.mkdtemp(prefix="wts_jit_")
    path = os.path.join(d, "grid.tif")
    geotiff.write_geotiff(vals, dataclasses.replace(GRID, epsg=26917), path,
                          dtype="u1", compression=7, rows_per_strip=4)
    back = geotiff.read_geotiff(spark, path)
    decoded_epsg = geotiff.read_geotiff_config(path).epsg
    return back.select(
        F.col("row").alias("cell_row"), F.col("col").alias("cell_col"),
        "value", F.lit(int(decoded_epsg)).alias("epsg"),
    )


def _geojson_recs():
    from whitebox_tools_spark.io import shapefile as _shp

    return [
        _shp.ShapeRecord(
            parts=list(f.rings), shape_type=_shp.SHP_POLYGON,
            attrs={"zone": int(f.attrs["zone"])},
        )
        for f in vectors.rect_layer()
    ]


def _geojson_ring_projection(df: DataFrame) -> DataFrame:
    return df.select(
        "fid",
        "part",
        F.col("is_hole").cast("int").alias("hole"),
        F.size("xs").alias("nv"),
        F.round(F.aggregate("xs", F.lit(0.0), lambda a, v: a + v), 6).alias("xsum"),
        F.round(F.aggregate("ys", F.lit(0.0), lambda a, v: a + v), 6).alias("ysum"),
        F.element_at("properties", "zone").cast("int").alias("zone"),
    )


def q_geojson_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rect_layer fixture -> GeoJSON FeatureCollection (RFC 7946 —
    writer re-orients to CCW shells / CW holes) -> distributed decode
    -> ring rows. GeoJSON is an engine-only surface (the reference
    speaks shapefile exclusively, src/vector/shapefile/); the oracle
    transcribes the fixture literally, with vertex sums chosen
    winding-invariant, so a hash match certifies vertex preservation,
    positional ring roles and the properties carry-through."""
    from whitebox_tools_spark.io import geojson

    d = tempfile.mkdtemp(prefix="wts_gj_")
    path = os.path.join(d, "layer.geojson")
    geojson.write_geojson(_geojson_recs(), path)
    return _geojson_ring_projection(geojson.read_geojson(spark, path))


def q_geojsonl_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE lane for the same data: newline-delimited GeoJSON
    (GDAL GeoJSONSeq, one Feature per line — splittable like any text
    table) parsed entirely JVM-side (spark.read.text + from_json +
    posexplode; zero Python, whole plan visible to Catalyst). Same
    output rows and oracle as geojson_roundtrip, so the two lanes pin
    each other."""
    from whitebox_tools_spark.io import geojson

    d = tempfile.mkdtemp(prefix="wts_gjl_")
    path = os.path.join(d, "layer.geojsonl")
    geojson.write_geojsonl(_geojson_recs(), path)
    return _geojson_ring_projection(geojson.read_geojsonl_polygons(spark, path))


def q_geojsonl_points_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-feature GeoJSONSeq lane: every 10th document's derived
    point becomes a Feature line; the JVM-side point scan
    (read_geojsonl_points — from_json narrow view, zero Python) reads
    them back. The oracle recomputes the derive closed form, so a hash
    match certifies the JSON float round-trip (repr shortest-roundtrip
    -> JVM double parse) and the Point filter."""
    import numpy as np

    from whitebox_tools_spark.io import geojson
    from whitebox_tools_spark.io import shapefile as _shp

    geo = derive.with_geometry(documents(spark, sf_dir), "doc_id").where(
        F.col("doc_id") % 10 == 0)
    pts = geo.select("doc_id", "x", "y").collect()
    recs = []
    fids = []
    for r in sorted(pts, key=lambda r: r.doc_id):
        recs.append(_shp.ShapeRecord(
            parts=[np.array([[r.x, r.y]])], shape_type=_shp.SHP_POINT))
        fids.append(int(r.doc_id))
    d = tempfile.mkdtemp(prefix="wts_gjp_")
    path = os.path.join(d, "pts.geojsonl")
    geojson.write_geojsonl(recs, path)
    out = geojson.read_geojsonl_points(spark, path)
    # write_geojsonl numbers features positionally; map back to doc_id
    fid_map = F.array(*[F.lit(f) for f in fids])
    return out.select(
        F.element_at(fid_map, F.col("fid").cast("int") + 1).alias("doc_id"),
        "x", "y",
    )


def _geojson_oracle() -> str:
    rows = []
    for fid, f in enumerate(vectors.rect_layer()):
        zone = int(f.attrs["zone"])
        for part, ring in enumerate(f.rings):
            hole = 1 if f.holes[part] else 0
            xsum = round(float(ring[:, 0].sum()), 6)
            ysum = round(float(ring[:, 1].sum()), 6)
            rows.append(
                f"({fid}, {part}, {hole}, {len(ring)}, {xsum!r}, {ysum!r}, "
                f"{zone})"
            )
    return (
        "SELECT CAST(fid AS BIGINT) AS fid, CAST(part AS INTEGER) AS part, "
        "CAST(hole AS INTEGER) AS hole, CAST(nv AS INTEGER) AS nv, "
        "CAST(xsum AS DOUBLE) AS xsum, CAST(ysum AS DOUBLE) AS ysum, "
        "CAST(zone AS INTEGER) AS zone "
        "FROM (VALUES " + ", ".join(rows)
        + ") t(fid, part, hole, nv, xsum, ysum, zone)"
    )


def q_cog_overviews_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COG-style overview pyramid write -> per-level distributed read.
    A closed-form f8 grid ((row*13 + col*29) % 211) is written as a
    multi-IFD GeoTIFF (full IFD + 2 reduced-resolution IFDs, nearest
    decimation, NewSubfileType 1 — the Cloud-Optimized GeoTIFF layout;
    the reference's single-IFD reader, geotiff/mod.rs, would still read
    the full image). Each level re-reads through read_geotiff(ifd=k);
    the oracle recomputes nearest decimation (level k value at (r, c) =
    base value at (r*2^k, c*2^k)), so a hash match certifies the IFD
    chain, the per-IFD relocation and the level geometries exactly."""
    rows, cols = GRID.rows, GRID.cols
    cells = spark.range(rows * cols).select(
        (F.col("id") / cols).cast("int").alias("row"),
        (F.col("id") % cols).cast("int").alias("col"),
    )
    vals = cells.withColumn(
        "value", ((F.col("row") * 13 + F.col("col") * 29) % 211).cast("double")
    )
    d = tempfile.mkdtemp(prefix="wts_cog_")
    path = os.path.join(d, "grid.tif")
    geotiff.write_geotiff(vals, GRID, path, dtype="f8", overviews=2)
    out = None
    for k in (0, 1, 2):
        lvl = geotiff.read_geotiff(spark, path, ifd=k).select(
            F.lit(k).alias("level"),
            F.col("row").alias("cell_row"), F.col("col").alias("cell_col"),
            "value",
        )
        out = lvl if out is None else out.unionByName(lvl)
    return out


_ORACLE_COG = f"""
SELECT lv.k AS level,
       CAST(r.i AS INT) AS cell_row, CAST(c.i AS INT) AS cell_col,
       CAST(((r.i << lv.k) * 13 + (c.i << lv.k) * 29) % 211 AS DOUBLE) AS value
FROM (VALUES (0), (1), (2)) lv(k),
     range(0, {GRID.rows}) r(i), range(0, {GRID.cols}) c(i)
WHERE r.i < CAST(ceil({GRID.rows} / POW(2, lv.k)) AS BIGINT)
  AND c.i < CAST(ceil({GRID.cols} / POW(2, lv.k)) AS BIGINT)
"""


_ORACLE_JPEG_IN_TIFF = f"""
SELECT CAST(r.i AS INT) AS cell_row, CAST(c.i AS INT) AS cell_col,
       CAST(128 + 3 * (((r.i // 4) * 7) % 21 - 10) AS DOUBLE) AS value,
       CAST(26917 AS INT) AS epsg
FROM range(0, {GRID.rows}) r(i), range(0, {GRID.cols}) c(i)
"""


# f8 roundtrips are lossless, so the oracles are the block oracles verbatim;
# the GeoTIFF rows additionally pin the GeoKeyDirectory CRS carry-through
# (the written EPSG must survive decode / re-encode byte-exactly).
_ORACLE_GEOTIFF = (
    "SELECT cell_row, cell_col, value, CAST(26917 AS INT) AS epsg "
    f"FROM ({_oracle_block('max')})"
)
_ORACLE_ARCASCII = _oracle_block("min")


# ---------------------------------------------------------------- las codec


def _quant_sql(col: str, off: str) -> str:
    """DuckDB fragment reproducing the encoder's tie-free i32 quantization
    (floor(v/scale + 0.5), io/las.py _quantize) at the 0.001 scale."""
    return (
        f"CAST(floor(({col} - {off}) / CAST(0.001 AS DOUBLE) + 0.5) AS BIGINT)"
        f" * CAST(0.001 AS DOUBLE) + {off}"
    )


def q_las_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents points -> LAS 1.2 fmt 1 -> distributed decode.

    doc_id rides in gps_time (f64 holds ids exactly), intensity carries
    doc_id % 4096; the oracle reproduces the i32*0.001+offset quantization
    with the encoder's offset rule offset = floor(min(coord)).
    """
    pts = _docs_geo(spark, sf_dir).select(
        "x", "y", "z",
        F.col("doc_id").cast("double").alias("gps_time"),
        F.pmod(F.col("doc_id"), F.lit(4096)).cast("int").alias("intensity"),
    )
    d = tempfile.mkdtemp(prefix="wts_las_")
    path = os.path.join(d, "pts.las")
    las.write_las(pts, path, point_format=1)
    back = las.read_las(spark, path)
    return back.select(
        F.col("gps_time").cast("long").alias("did"),
        "x", "y", "z", "intensity",
    )


_ORACLE_LAS = f"""
WITH {_PTS_CTE},
mn AS (SELECT floor(min(x)) AS ox, floor(min(y)) AS oy, floor(min(z)) AS oz FROM pts)
SELECT doc_id AS did,
       {_quant_sql("x", "ox")} AS x,
       {_quant_sql("y", "oy")} AS y,
       {_quant_sql("z", "oz")} AS z,
       CAST(doc_id % 4096 AS INTEGER) AS intensity
FROM pts CROSS JOIN mn
"""


def q_las_zip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same payload as las_roundtrip but through the ``.las.zip``
    container (reference las.rs:486-547 read via ZipArchive entry 0,
    :1163-1180 write via ZipWriter/deflate): the engine writes a real
    zip whose inner entry is ``pts.las``, then re-reads it with the
    distributed binaryFile decoder (magic-sniff unwrap, no path logic).
    ``container_zip`` pins that the bytes on disk really are a zip."""
    pts = _docs_geo(spark, sf_dir).select(
        "x", "y", "z",
        F.col("doc_id").cast("double").alias("gps_time"),
        F.pmod(F.col("doc_id"), F.lit(4096)).cast("int").alias("intensity"),
    )
    d = tempfile.mkdtemp(prefix="wts_laszip_")
    path = os.path.join(d, "pts.las.zip")
    las.write_las(pts, path, point_format=1)
    with open(path, "rb") as f:
        head = f.read(4)
    import zipfile

    with zipfile.ZipFile(path) as z:
        inner_ok = z.namelist() == ["pts.las"]
    back = las.read_las(spark, path)
    return back.select(
        F.col("gps_time").cast("long").alias("did"),
        "x", "y", "z", "intensity",
        F.lit(1 if head == b"PK\x03\x04" and inner_ok else 0).alias("container_zip"),
    )


_ORACLE_LAS_ZIP = f"""
WITH {_PTS_CTE},
mn AS (SELECT floor(min(x)) AS ox, floor(min(y)) AS oy, floor(min(z)) AS oz FROM pts)
SELECT doc_id AS did,
       {_quant_sql("x", "ox")} AS x,
       {_quant_sql("y", "oy")} AS y,
       {_quant_sql("z", "oz")} AS z,
       CAST(doc_id % 4096 AS INTEGER) AS intensity,
       CAST(1 AS INTEGER) AS container_zip
FROM pts CROSS JOIN mn
"""


_WKT_FIXTURE = (
    'PROJCS["WGS 84 / UTM zone 18N",GEOGCS["WGS 84",DATUM["WGS_1984",'
    'SPHEROID["WGS 84",6378137,298.257223563]],PRIMEM["Greenwich",0],'
    'UNIT["degree",0.0174532925199433]],PROJECTION["Transverse_Mercator"],'
    'UNIT["metre",1]]'
)


def q_las14_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents points -> LAS 1.4 point format 6 (extended record: i16
    scan angle, 4-bit return counts, full u8 classification, WKT CRS VLR)
    -> distributed decode.

    scan_angle spans +/-15000 to prove the i16 path (an i8 codec would
    wrap), classification spans the full 0-255 byte, and wkt_ok pins the
    VLR surviving the byte roundtrip (las.rs:950-978 extended arms;
    header.rs:143-150 1.4 extended header; vlr.rs record 2112).
    """
    pts = _docs_geo(spark, sf_dir).select(
        "x", "y", "z",
        F.col("doc_id").cast("double").alias("gps_time"),
        (F.pmod(F.col("doc_id"), F.lit(30001)) - F.lit(15000))
        .cast("int").alias("scan_angle"),
        F.pmod(F.col("doc_id"), F.lit(256)).cast("int").alias("classification"),
        (F.pmod(F.col("doc_id"), F.lit(15)) + F.lit(1)).cast("int").alias("return_num"),
    )
    d = tempfile.mkdtemp(prefix="wts_las14_")
    path = os.path.join(d, "pts14.las")
    las.write_las(pts, path, point_format=6, wkt=_WKT_FIXTURE)
    with open(path, "rb") as f:
        raw = f.read()
    info = las.las_info(raw)
    wkt_ok = int(
        info["wkt"] == _WKT_FIXTURE
        and info["version"] == (1, 4)
        and info["point_format"] == 6
    )
    back = las.read_las(spark, path)
    return back.select(
        F.col("gps_time").cast("long").alias("did"),
        "x", "y", "z", "scan_angle", "classification", "return_num",
        F.lit(wkt_ok).alias("wkt_ok"),
    )


_ORACLE_LAS14 = f"""
WITH {_PTS_CTE},
mn AS (SELECT floor(min(x)) AS ox, floor(min(y)) AS oy, floor(min(z)) AS oz FROM pts)
SELECT doc_id AS did,
       {_quant_sql("x", "ox")} AS x,
       {_quant_sql("y", "oy")} AS y,
       {_quant_sql("z", "oz")} AS z,
       CAST(doc_id % 30001 - 15000 AS INTEGER) AS scan_angle,
       CAST(doc_id % 256 AS INTEGER) AS classification,
       CAST(doc_id % 15 + 1 AS INTEGER) AS return_num,
       CAST(1 AS INTEGER) AS wkt_ok
FROM pts CROSS JOIN mn
"""


def q_ascii_to_las(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AsciiToLas (ascii_to_las.rs): xyz text -> spark.read.csv ->
    encode_las -> distributed decode. The CSV hop is exact (shortest-
    repr floats parse back bit-identical), so the oracle is the LAS
    quantization alone."""
    pts = _docs_geo(spark, sf_dir).select("doc_id", "x", "y", "z")
    d = tempfile.mkdtemp(prefix="wts_a2l_")
    csv_path = os.path.join(d, "pts.csv")
    pts.toPandas().to_csv(csv_path, index=False)
    df = spark.read.csv(csv_path, header=True, inferSchema=True)
    las_path = os.path.join(d, "pts.las")
    las.write_las(
        df.select("x", "y", "z", F.col("doc_id").cast("double").alias("gps_time")),
        las_path,
        point_format=1,
    )
    back = las.read_las(spark, las_path)
    return back.select(
        F.col("gps_time").cast("long").alias("did"), "x", "y", "z"
    )


_ORACLE_ASCII_TO_LAS = f"""
WITH {_PTS_CTE},
mn AS (SELECT floor(min(x)) AS ox, floor(min(y)) AS oy, floor(min(z)) AS oz FROM pts)
SELECT doc_id AS did,
       {_quant_sql("x", "ox")} AS x,
       {_quant_sql("y", "oy")} AS y,
       {_quant_sql("z", "oz")} AS z
FROM pts CROSS JOIN mn
"""


def q_las_to_shapefile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LasToShapefile (las_to_shapefile.rs): LAS -> point-record .shp
    with the point id in the DBF and the LAS WKT CRS carried through to
    the .prj sidecar (prj_ok pins the carry-through)."""
    pts = _docs_geo(spark, sf_dir).select(
        "x", "y", "z", F.col("doc_id").cast("double").alias("gps_time")
    )
    d = tempfile.mkdtemp(prefix="wts_l2s_")
    las_path = os.path.join(d, "pts.las")
    las.write_las(pts, las_path, point_format=1, wkt=_WKT_FIXTURE)
    with open(las_path, "rb") as f:
        crs = las.las_wkt(f.read())
    decoded = (
        las.read_las(spark, las_path)
        .select(F.col("gps_time").cast("long").alias("did"), "x", "y")
        .toPandas()
        .sort_values("did")
    )
    import numpy as np

    recs = [
        shapefile.ShapeRecord(
            parts=[np.array([[r.x, r.y]])],
            shape_type=shapefile.SHP_POINT,
            attrs={"DID": int(r.did)},
        )
        for r in decoded.itertuples()
    ]
    base = os.path.join(d, "pts_shp")
    shapefile.write_shapefile(recs, base, prj=crs)
    prj_ok = int(shapefile.read_projection(base) == _WKT_FIXTURE)
    out = shapefile.read_shapefile(spark, base)
    return out.select(
        F.col("DID").cast("long").alias("did"),
        F.element_at("xs", 1).alias("x"),
        F.element_at("ys", 1).alias("y"),
        F.lit(prj_ok).alias("prj_ok"),
    )


_ORACLE_LAS_TO_SHP = f"""
WITH {_PTS_CTE},
mn AS (SELECT floor(min(x)) AS ox, floor(min(y)) AS oy FROM pts)
SELECT doc_id AS did,
       {_quant_sql("x", "ox")} AS x,
       {_quant_sql("y", "oy")} AS y,
       CAST(1 AS INTEGER) AS prj_ok
FROM pts CROSS JOIN mn
"""


def q_las_to_multipoint_shapefile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LasToMultipointShapefile (las_to_multipoint_shapefile.rs): LAS ->
    one MultiPoint record per group (here doc_id % 8), vertices in id
    order; per-record vertex count + coordinate sums certify every
    vertex survived both codecs."""
    pts = _docs_geo(spark, sf_dir).select(
        "x", "y", "z", F.col("doc_id").cast("double").alias("gps_time")
    )
    d = tempfile.mkdtemp(prefix="wts_l2m_")
    las_path = os.path.join(d, "pts.las")
    las.write_las(pts, las_path, point_format=1)
    decoded = (
        las.read_las(spark, las_path)
        .select(F.col("gps_time").cast("long").alias("did"), "x", "y")
        .toPandas()
        .sort_values("did")
    )
    import numpy as np

    decoded["grp"] = decoded["did"] % 8
    recs = [
        shapefile.ShapeRecord(
            parts=[np.column_stack([sub["x"].to_numpy(), sub["y"].to_numpy()])],
            shape_type=shapefile.SHP_MULTIPOINT,
            attrs={"GRP": int(g)},
        )
        for g, sub in decoded.groupby("grp", sort=True)
    ]
    base = os.path.join(d, "pts_mp")
    shapefile.write_shapefile(recs, base)
    out = shapefile.read_shapefile(spark, base)
    # per-vertex rows (exact f8, no float-sum ordering hazard): vertex
    # position within each record is the id rank, pinned by the oracle's
    # row_number — a hash match proves vertex ORDER survived, not just
    # the vertex set
    ex = out.select(
        F.col("GRP").cast("int").alias("grp"),
        F.posexplode(F.arrays_zip("xs", "ys")).alias("pos", "pt"),
    )
    return ex.select(
        "grp", "pos",
        F.col("pt.xs").alias("x"),
        F.col("pt.ys").alias("y"),
    )


_ORACLE_LAS_TO_MP = f"""
WITH {_PTS_CTE},
mn AS (SELECT floor(min(x)) AS ox, floor(min(y)) AS oy FROM pts),
q AS (
  SELECT doc_id,
         {_quant_sql("x", "ox")} AS x,
         {_quant_sql("y", "oy")} AS y
  FROM pts CROSS JOIN mn)
SELECT CAST(doc_id % 8 AS INTEGER) AS grp,
       CAST(row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) - 1
            AS INTEGER) AS pos,
       x, y
FROM q
"""


def q_bigtiff_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """block-max grid -> classic GeoTIFF -> decode -> re-encode as
    BigTIFF (version 43, 8-byte offsets, LONG8 strip tables) ->
    distributed decode. A hash match against the same block oracle as
    geotiff_roundtrip certifies the version-43 writer + reader pair
    (reference read path geotiff/mod.rs:50-62)."""
    pts = _docs_geo(spark, sf_dir).select("x", "y", "z")
    grid = block_grid(pts, GRID, stat="max")
    d = tempfile.mkdtemp(prefix="wts_btif_")
    classic = os.path.join(d, "grid.tif")
    geotiff.write_geotiff(grid, dataclasses.replace(GRID, epsg=26917),
                          classic, dtype="f8")
    with open(classic, "rb") as f:
        cfg, arr = geotiff.decode_geotiff(f.read())
    big_path = os.path.join(d, "grid_big.tif")
    with open(big_path, "wb") as f:
        # re-encode with the DECODED cfg: the epsg column below therefore
        # certifies the geokey through decode AND the BigTIFF re-encode
        f.write(geotiff.encode_geotiff(arr, cfg, big=True))
    back = geotiff.read_geotiff(spark, big_path, drop_nodata=True)
    decoded_epsg = geotiff.read_geotiff_config(big_path).epsg
    return back.select(
        F.col("row").alias("cell_row"), F.col("col").alias("cell_col"), "value",
        F.lit(int(decoded_epsg)).alias("epsg"),
    )


def q_geotiff_pred_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """block-max grid, floored to integers -> GeoTIFF i4 with
    Predictor 2 (horizontal differencing) + deflate -> distributed
    decode. Certifies the differencing encode/un-diff decode pair the
    reference applies on read (geotiff/mod.rs:1526-1540); the oracle is
    the block oracle floored, so any off-by-one-cumsum error in the
    predictor path breaks the hash."""
    pts = _docs_geo(spark, sf_dir).select("x", "y", "z")
    grid = block_grid(pts, GRID, stat="max").withColumn(
        "value", F.floor("value").cast("double")
    )
    d = tempfile.mkdtemp(prefix="wts_ptif_")
    path = os.path.join(d, "grid.tif")
    geotiff.write_geotiff(grid, GRID, path, dtype="i4", predictor=2)
    back = geotiff.read_geotiff(spark, path, drop_nodata=True)
    return back.select(
        F.col("row").alias("cell_row"), F.col("col").alias("cell_col"),
        F.col("value").cast("bigint").alias("value"),
    )


_ORACLE_GEOTIFF_PRED = (
    "SELECT cell_row, cell_col, CAST(floor(value) AS BIGINT) AS value "
    f"FROM ({_oracle_block('max')})"
)


def q_geotiff_lzw_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """block-min grid -> GeoTIFF f8 with TIFF-LZW strips (compression 5,
    early-change widths, CLEAR reset) -> distributed decode. The writer
    side exceeds the reference (its writer is COMPRESS_NONE only,
    geotiff/mod.rs:1959-1965); the READ side is reference parity
    (mod.rs:424-432 LZW arm). Oracle = the lossless block oracle."""
    pts = _docs_geo(spark, sf_dir).select("x", "y", "z")
    grid = block_grid(pts, GRID, stat="min")
    d = tempfile.mkdtemp(prefix="wts_lzwtif_")
    path = os.path.join(d, "grid.tif")
    geotiff.write_geotiff(grid, GRID, path, dtype="f8", compression=5)
    back = geotiff.read_geotiff(spark, path, drop_nodata=True)
    return back.select(
        F.col("row").alias("cell_row"), F.col("col").alias("cell_col"), "value"
    )


_PALETTE = [(k * 9000 + 1000, k * 7000 + 500, k * 5000 + 250) for k in range(5)]
# the reference's ARGB pack: 16-bit channels truncated to 8-bit,
# a=255 (geotiff/mod.rs:779-786)
_PALETTE_LUT = [
    float((255 << 24) | (int(r / 65535 * 255) << 16)
          | (int(g / 65535 * 255) << 8) | int(b / 65535 * 255))
    for r, g, b in _PALETTE
]


def q_geotiff_palette_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """block-max grid -> category index (floor(value) mod 5, empty cells
    0) -> paletted GeoTIFF (photometric 3 + ColorMap) -> distributed
    decode. Decoded pixels are palette[index] ARGB-packed as f64, the
    reference's Categorical convention (geotiff/mod.rs:761-787 palette
    build incl. the truncating 16->8-bit rescale, :1289-1297 pixel
    mapping); the oracle recomputes the pack arithmetically per cell."""
    import dataclasses

    import numpy as np

    from whitebox_tools_spark.io.geotiff import _grid_from_df

    pts = _docs_geo(spark, sf_dir).select("x", "y", "z")
    grid = block_grid(pts, GRID, stat="max")
    idx_df = grid.withColumn(
        "value", F.pmod(F.floor("value"), F.lit(5)).cast("double")
    )
    cfg0 = dataclasses.replace(GRID, nodata=0.0)
    arr = _grid_from_df(idx_df, cfg0, "u1")
    d = tempfile.mkdtemp(prefix="wts_paltif_")
    path = os.path.join(d, "pal.tif")
    with open(path, "wb") as f:
        f.write(geotiff.encode_geotiff(
            arr, cfg0, palette=np.array(_PALETTE, dtype="u2")))
    back = geotiff.read_geotiff(spark, path)
    return back.select(
        F.col("row").alias("cell_row"), F.col("col").alias("cell_col"), "value"
    )


_PALETTE_CASES = " ".join(
    f"WHEN {k} THEN {v!r}" for k, v in enumerate(_PALETTE_LUT)
)
_ORACLE_GEOTIFF_PALETTE = f"""
WITH blk AS ({_oracle_block('max')}),
{_CELLS_CTE},
idx AS (SELECT c.cell_row, c.cell_col,
               COALESCE(((CAST(floor(b.value) AS BIGINT) % 5) + 5) % 5, 0) AS k
        FROM cells c LEFT JOIN blk b USING (cell_row, cell_col))
SELECT cell_row, cell_col,
       CAST(CASE k {_PALETTE_CASES} END AS DOUBLE) AS value
FROM idx
"""


def q_rgb_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CreateColourComposite -> 4-sample u8 RGBA GeoTIFF (the reference
    writes PI_RGB, geotiff/mod.rs:1967-1975) -> distributed multiband
    decode -> repack to the engine/reference f64 convention
    (a<<24|b<<16|g<<8|r, raster/mod.rs:574-600). Alpha=255 marks data
    cells (the composite always sets it), 0 marks empty cells, so the
    filter needs no join. Oracle: the colour_composite oracle verbatim."""
    from whitebox_tools_spark.catalog_color import _bands
    from whitebox_tools_spark.operators import color as co
    import numpy as np

    comp = co.create_colour_composite(*_bands(spark, sf_dir))
    pdf = comp.toPandas()
    v = pdf["value"].to_numpy(np.int64)
    arr = np.zeros((GRID.rows, GRID.cols, 4), dtype=np.uint8)
    r_, c_ = pdf["row"].to_numpy(), pdf["col"].to_numpy()
    arr[r_, c_, 0] = v & 255
    arr[r_, c_, 1] = (v >> 8) & 255
    arr[r_, c_, 2] = (v >> 16) & 255
    arr[r_, c_, 3] = (v >> 24) & 255
    d = tempfile.mkdtemp(prefix="wts_rgb_")
    path = os.path.join(d, "rgb.tif")
    with open(path, "wb") as f:
        f.write(geotiff.encode_geotiff(arr, GRID, compression=8))
    back = geotiff.read_geotiff_bands(spark, path)
    agg = back.groupBy("row", "col").agg(
        F.sum(F.when(F.col("band") == 0, F.col("value"))).alias("r"),
        F.sum(F.when(F.col("band") == 1, F.col("value"))).alias("g"),
        F.sum(F.when(F.col("band") == 2, F.col("value"))).alias("b"),
        F.sum(F.when(F.col("band") == 3, F.col("value"))).alias("a"),
    )
    return agg.where(F.col("a") == 255).select(
        F.col("row").alias("cell_row"),
        F.col("col").alias("cell_col"),
        (F.lit(255.0 * 16777216.0) + F.col("b") * 65536.0
         + F.col("g") * 256.0 + F.col("r")).alias("value"),
    )


# ------------------------------------------------------- geotiff tag dump


def q_print_geotiff_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PrintGeoTiffTags (print_geotiff_tags.rs): named IFD dump of an
    engine-written f8 uncompressed GeoTIFF, decoded distributed. Every
    emitted tag value is spec-derivable from the write call (20x20 f8,
    strip layout, GRID georeference), so the oracle transcribes the TIFF
    6.0 / GeoTIFF spec — StripOffsets (a layout detail) is excluded."""
    import pandas as pd

    pts = _docs_geo(spark, sf_dir).select("x", "y", "z")
    grid = block_grid(pts, GRID, stat="max")
    d = tempfile.mkdtemp(prefix="wts_tags_")
    path = os.path.join(d, "grid.tif")
    geotiff.write_geotiff(grid, GRID, path, dtype="f8", compression=1)
    bf = spark.read.format("binaryFile").load(path)

    def _dump(batches):
        for pdf in batches:
            for content in pdf["content"]:
                tags = geotiff.print_geotiff_tags(bytes(content))
                rows = [
                    (k, ",".join(str(v) for v in vals))
                    for k, vals in tags.items()
                    if k != "StripOffsets"
                ]
                yield pd.DataFrame(rows, columns=["tag", "val"])

    return bf.select("content").mapInPandas(_dump, "tag string, val string")


_ORACLE_TIFF_TAGS = """
SELECT tag, val FROM (VALUES
  ('ImageWidth', '20'),
  ('ImageLength', '20'),
  ('BitsPerSample', '64'),
  ('Compression', '1'),
  ('PhotometricInterpretation', '1'),
  ('SamplesPerPixel', '1'),
  ('RowsPerStrip', '20'),
  ('StripByteCounts', '3200'),
  ('PlanarConfiguration', '1'),
  ('SampleFormat', '3'),
  ('ModelPixelScaleTag', '50.0,50.0,0.0'),
  ('ModelTiepointTag', '0.0,0.0,0.0,0.0,1000.0,0.0'),
  ('GDAL_NODATA', '-32768.0')
) t(tag, val)
"""


# ----------------------------------------------------------- shapefile codec


def q_shapefile_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rect_layer fixture -> .shp/.shx/.dbf bytes -> decode -> ring rows.

    The oracle transcribes the fixture literally, so a hash match means
    the codec preserved every vertex, the ring order, the CW/CCW hole
    flag, and the DBF numeric + Date (D, YYYYMMDD) + Logical (L)
    attributes (reference FieldData::Date/Bool, attributes.rs:60-67).
    """
    import datetime as _dt

    feats = vectors.rect_layer()
    recs = [
        shapefile.ShapeRecord(
            parts=list(f.rings),
            shape_type=shapefile.SHP_POLYGON,
            attrs={
                "ZONE": int(f.attrs["zone"]),
                "EVEN": int(f.attrs["zone"]) % 2 == 0,
                "SINCE": _dt.date(2020, 1, 1 + int(f.attrs["zone"]) % 28),
            },
        )
        for f in feats
    ]
    d = tempfile.mkdtemp(prefix="wts_shp_")
    base = os.path.join(d, "layer")
    shapefile.write_shapefile(recs, base)
    df = shapefile.read_shapefile(spark, base)
    return df.select(
        "fid",
        "part",
        F.col("is_hole").cast("int").alias("hole"),
        F.size("xs").alias("nv"),
        F.element_at("xs", 1).alias("x0"),
        F.element_at("ys", 1).alias("y0"),
        F.round(F.aggregate("xs", F.lit(0.0), lambda a, v: a + v), 6).alias("xsum"),
        F.col("ZONE").cast("int").alias("zone"),
        F.col("EVEN").alias("even"),
        F.col("SINCE").alias("since"),
    )


def _shapefile_oracle() -> str:
    import datetime as _dt

    rows = []
    for fid, f in enumerate(vectors.rect_layer()):
        zone = int(f.attrs["zone"])
        even = "True" if zone % 2 == 0 else "False"
        since = _dt.date(2020, 1, 1 + zone % 28).strftime("%Y%m%d")
        for part, ring in enumerate(f.rings):
            hole = 1 if f.holes[part] else 0
            xsum = round(float(ring[:, 0].sum()), 6)
            rows.append(
                f"({fid}, {part}, {hole}, {len(ring)}, "
                f"{float(ring[0, 0])!r}, {float(ring[0, 1])!r}, {xsum!r}, "
                f"{zone}, '{even}', '{since}')"
            )
    return (
        "SELECT CAST(fid AS BIGINT) AS fid, CAST(part AS BIGINT) AS part, "
        "CAST(hole AS INTEGER) AS hole, CAST(nv AS INTEGER) AS nv, "
        "CAST(x0 AS DOUBLE) AS x0, CAST(y0 AS DOUBLE) AS y0, "
        "CAST(xsum AS DOUBLE) AS xsum, CAST(zone AS INTEGER) AS zone, "
        "even, since FROM (VALUES "
        + ", ".join(rows)
        + ") t(fid, part, hole, nv, x0, y0, xsum, zone, even, since)"
    )


def q_shapefile_m_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents points (doc_id % 37 == 0 subset) -> one PolyLineM
    record per doc (3-vertex line, measures z, z+1, z+2, DID attribute)
    -> .shp/.dbf bytes -> decode -> per-vertex rows (did, vi, x, y, m).

    Certifies the M shape-type codec (geometry.rs:488-491: types
    21/23/25/28 carry measures) end-to-end: the oracle rebuilds every
    vertex and measure arithmetically, so a hash match pins the M block
    layout (m range + per-vertex measures after the points)."""
    import numpy as np

    pdf = (
        _docs_geo(spark, sf_dir)
        .where(F.pmod(F.col("doc_id"), F.lit(37)) == 0)
        .select("doc_id", "x", "y", "z")
        .orderBy("doc_id")
        .toPandas()
    )
    recs = []
    for did, x, y, z in pdf.itertuples(index=False):
        pts = np.array([[x, y], [x + 1.0, y + 1.0], [x + 2.0, y]])
        recs.append(shapefile.ShapeRecord(
            parts=[pts], shape_type=shapefile.SHP_POLYLINE_M,
            ms=[np.array([z, z + 1.0, z + 2.0])], attrs={"DID": int(did)},
        ))
    d = tempfile.mkdtemp(prefix="wts_shpm_")
    base = os.path.join(d, "lines_m")
    shapefile.write_shapefile(recs, base)
    with open(base + ".shp", "rb") as f:
        shp = f.read()
    with open(base + ".dbf", "rb") as f:
        dbf = f.read()
    rows = []
    for rec in shapefile.decode_shapefile(shp, dbf):
        for vi in range(len(rec.parts[0])):
            rows.append((int(rec.attrs["DID"]), vi,
                         float(rec.parts[0][vi, 0]), float(rec.parts[0][vi, 1]),
                         float(rec.ms[0][vi])))
    return spark.createDataFrame(
        rows, "did bigint, vi int, x double, y double, m double"
    )


_ORACLE_SHAPEFILE_M = f"""
WITH {_PTS_CTE},
sel AS (SELECT doc_id, x, y, z FROM pts WHERE doc_id % 37 = 0)
SELECT CAST(doc_id AS BIGINT) AS did, CAST(vi AS INT) AS vi,
       x + vi AS x,
       CASE WHEN vi = 1 THEN y + 1 ELSE y END AS y,
       z + vi AS m
FROM sel CROSS JOIN (VALUES (0), (1), (2)) v(vi)
"""


def _colour_composite_oracle() -> str:
    """rgb_roundtrip must return exactly what colour_composite returns —
    reuse its oracle verbatim (deferred import keeps module load light)."""
    from whitebox_tools_spark.catalog_color import ORACLE_SQL as _color_oracles

    return _color_oracles["colour_composite"]


QUERIES = {
    "geotiff_roundtrip": q_geotiff_roundtrip,
    "geotiff_pred_roundtrip": q_geotiff_pred_roundtrip,
    "geotiff_palette_roundtrip": q_geotiff_palette_roundtrip,
    "geotiff_lzw_roundtrip": q_geotiff_lzw_roundtrip,
    "jpeg_in_tiff_roundtrip": q_jpeg_in_tiff_roundtrip,
    "cog_overviews_roundtrip": q_cog_overviews_roundtrip,
    "geojson_roundtrip": q_geojson_roundtrip,
    "geojsonl_scan": q_geojsonl_scan,
    "geojsonl_points_scan": q_geojsonl_points_scan,
    "bigtiff_roundtrip": q_bigtiff_roundtrip,
    "rgb_roundtrip": q_rgb_roundtrip,
    "arcascii_roundtrip": q_arcascii_roundtrip,
    "whitebox_roundtrip": q_whitebox_roundtrip,
    "surfer7_roundtrip": q_surfer7_roundtrip,
    "grass_roundtrip": q_grass_roundtrip,
    "las_roundtrip": q_las_roundtrip,
    "las_zip_roundtrip": q_las_zip_roundtrip,
    "las14_roundtrip": q_las14_roundtrip,
    "ascii_to_las": q_ascii_to_las,
    "las_to_shapefile": q_las_to_shapefile,
    "las_to_multipoint_shapefile": q_las_to_multipoint_shapefile,
    "print_geotiff_tags": q_print_geotiff_tags,
    "shapefile_roundtrip": q_shapefile_roundtrip,
    "shapefile_m_roundtrip": q_shapefile_m_roundtrip,
}

HEADLINE = (
    "geotiff_roundtrip", "las_roundtrip", "las14_roundtrip", "bigtiff_roundtrip",
    "rgb_roundtrip", "las_zip_roundtrip", "jpeg_in_tiff_roundtrip",
    "cog_overviews_roundtrip", "geojson_roundtrip", "geojsonl_scan",
    "geojsonl_points_scan",
)

ORACLE_SQL = {
    "geotiff_roundtrip": _ORACLE_GEOTIFF,
    "geotiff_pred_roundtrip": _ORACLE_GEOTIFF_PRED,
    "geotiff_palette_roundtrip": _ORACLE_GEOTIFF_PALETTE,
    "geotiff_lzw_roundtrip": _oracle_block("min"),
    "jpeg_in_tiff_roundtrip": _ORACLE_JPEG_IN_TIFF,
    "cog_overviews_roundtrip": _ORACLE_COG,
    "geojson_roundtrip": _geojson_oracle(),
    "geojsonl_scan": _geojson_oracle(),
    "geojsonl_points_scan": (
        f"WITH {_PTS_CTE} SELECT doc_id, x, y FROM pts WHERE doc_id % 10 = 0"
    ),
    "bigtiff_roundtrip": _ORACLE_GEOTIFF,
    "arcascii_roundtrip": _ORACLE_ARCASCII,
    "whitebox_roundtrip": _oracle_points_raster("max"),
    "surfer7_roundtrip": _oracle_points_raster("min"),
    "grass_roundtrip": _oracle_points_raster("first"),
    "rgb_roundtrip": _colour_composite_oracle(),
    "las_roundtrip": _ORACLE_LAS,
    "las_zip_roundtrip": _ORACLE_LAS_ZIP,
    "las14_roundtrip": _ORACLE_LAS14,
    "ascii_to_las": _ORACLE_ASCII_TO_LAS,
    "las_to_shapefile": _ORACLE_LAS_TO_SHP,
    "las_to_multipoint_shapefile": _ORACLE_LAS_TO_MP,
    "print_geotiff_tags": _ORACLE_TIFF_TAGS,
    "shapefile_roundtrip": _shapefile_oracle(),
    "shapefile_m_roundtrip": _ORACLE_SHAPEFILE_M,
}
