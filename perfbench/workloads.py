"""The four benchmark workloads.

Each workload generates its inputs from the seed (``prepare``), runs one
pass of its batch job through the engine's public functions (``run``,
which writes every output), checks the last pass's outputs without the
engine (``check``) and turns a traced pass's spans into per-layer
numbers (``layers``). Spans wrap each call into an engine layer.
"""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import checks
import gen
from whitebox_tools_spark import derive
from whitebox_tools_spark.io import geotiff
from whitebox_tools_spark.operators import (
    cells,
    focal,
    gridding,
    hydro,
    pip,
    radius_join,
    raster,
    tiling,
    zonal,
)
from whitebox_tools_spark.sources import docs as docs_src
from whitebox_tools_spark.sources import vectors


def _bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _save(tr, df, path: str):
    """Write ``df`` as parquet; traced, materialise it first so the span
    gets the plan's SQL metrics."""
    tr.done(df).write.mode("overwrite").parquet(path)


def _touch_engine(batches):
    import whitebox_tools_spark.operators.focal  # noqa: F401
    import whitebox_tools_spark.operators.pip  # noqa: F401
    import whitebox_tools_spark.operators.radius_join  # noqa: F401
    import whitebox_tools_spark.operators.raster  # noqa: F401

    yield from batches


def _span_stats(spans, name: str) -> dict:
    """Wall, counts and plan sums of the last span called ``name`` (zeros
    when the pass had none)."""
    sp = next((s for s in reversed(spans) if s.name == name), None)
    if sp is None:
        return {"wall": 0.0, "jobs": 0, "tasks_failed": 0, "skew": 0.0, "plan": {}}
    c = sp.counts
    return {
        "wall": sp.end - sp.start,
        "jobs": c.get("jobs", 0),
        "tasks_failed": c.get("tasks_failed", 0),
        "skew": c.get("skew", 0.0),
        "plan": sp.plan,
    }


class Workload:
    name = ""
    # the span around the job that reads the docs; docs_per_s = docs ÷ its wall
    DOCS_SPAN = ""

    def __init__(self, spark, cores: int, seed: int, work: str, con):
        self.spark, self.cores, self.seed, self.work, self.con = spark, cores, seed, work, con
        self.props: dict = {}
        self.out: dict[str, str] = {}
        self.n_docs = 0

    def warm(self, run_pass) -> None:
        """Untimed work before the timed passes; ``run_pass()`` runs one."""

    def path(self, name: str) -> str:
        p = os.path.join(self.work, name)
        self.out[name] = p
        return p


# ------------------------------------------------------------ docs_overlay


class DocsOverlay(Workload):
    """Flagship job: docs parquet -> derived geometry -> LidarTile ->
    polygon tag (JVM expression path) -> tagged docs + counts parquet."""

    name = "docs_overlay"
    DOCS_SPAN = "pass"
    # On 4 cores a warm pass takes about 5 s at 0.5M docs, 8.5 s at 1M,
    # 14 s at 2M and 20 s at 3M: roughly 2.5 s per pass plus 5.5 s per
    # million docs, so at 0.8M two thirds of the pass is per-doc work.
    N_DOCS = 800_000
    # the two warm-up passes read one of the docs table's eight files: the
    # first passes in a JVM pay JIT and codegen, whatever their size
    WARM_PASSES = 2

    def prepare(self):
        self.docs = self.path("docs")
        gen.write_docs(self.spark, self.seed, self.N_DOCS, self.docs, self.cores * 2)
        self.src = self.docs
        self.path("tagged"), self.path("counts")
        self.layer = vectors.rect_layer()
        self.n_docs = self.N_DOCS
        self.props.update(docs=self.N_DOCS, layer_vertices=gen.layer_vertices(self.layer),
                          expr_max_vertices=pip.EXPR_MAX_VERTICES)

    def warm(self, run_pass):
        self.src = min(glob.glob(os.path.join(self.docs, "*.parquet")))
        try:
            for _ in range(self.WARM_PASSES):
                run_pass()
        finally:
            self.src = self.docs

    def run(self, tr):
        with tr.span("sources"):
            geo = tr.done(derive.with_geometry(self.spark.read.parquet(self.src), "doc_id"))
        with tr.span("tiling"):
            tiled = tr.done(tiling.lidar_tile(geo, min_points=2))
        with tr.span("pip"):
            tagged = tr.done(pip.tag_polygon(tiled, self.layer))
        with tr.span("sink"):
            out = tagged.select("doc_id", "tile", "poly_fid", "spans")
            out.write.mode("overwrite").parquet(self.out["tagged"])
            counts = self.spark.read.parquet(self.out["tagged"]).groupBy("tile", "poly_fid")
            counts.agg(F.count(F.lit(1)).alias("n_docs")).write.mode("overwrite").parquet(
                self.out["counts"])

    def check(self):
        bad = checks.docs_overlay(self.con, self.docs, self.out["tagged"], self.out["counts"])
        src = self.spark.read.parquet(self.docs)
        return bad + docs_src.check_span_equality(src, self.spark.read.parquet(self.out["tagged"]))

    def layers(self, spans):
        s, t, p, k = (_span_stats(spans, n) for n in ("sources", "tiling", "pip", "sink"))
        return {
            "sources.scan_s": s["wall"], "sources.rows": s["plan"].get("scan_rows", 0),
            "sources.tasks_failed": s["tasks_failed"],
            "tiling.wall_s": t["wall"], "tiling.spark_jobs": t["jobs"],
            "tiling.tasks_failed": t["tasks_failed"],
            "pip.wall_s": p["wall"], "pip.python_s": p["plan"].get("pythonTotalTime", 0.0),
            "pip.arrow_bytes_sent": p["plan"].get("pythonDataSent", 0.0),
            "pip.arrow_bytes_recv": p["plan"].get("pythonDataReceived", 0.0),
            "pip.tasks_failed": p["tasks_failed"],
            "sink.write_s": k["wall"], "sink.tasks_failed": k["tasks_failed"],
        }

    def facts(self):
        tagged = self.spark.read.parquet(self.out["tagged"])
        hits = tagged.where(F.col("poly_fid").isNotNull()).count()
        return {
            "pip.hit_ratio": hits / max(tagged.count(), 1),
            "sink.bytes": _bytes(self.out["tagged"]) + _bytes(self.out["counts"]),
        }


# ---------------------------------------------------------- polygon_raster


class PolygonRaster(Workload):
    """One polygon layer above the expression-path vertex limit, used to
    tag docs (Arrow PIP), paint a grid and clip a DEM; then slope of the
    clipped DEM, zonal statistics of slope by painted zone, and a GeoTIFF
    write plus read-back."""

    name = "polygon_raster"
    DOCS_SPAN = "pip"
    N_DOCS = 100_000
    # one run of the Arrow PIP job varies by about 10 % at any size, so it
    # runs three times a pass and docs_per_s is their median
    PIP_REPEATS = 3
    FEATURES, VERTICES = 12, 32
    GRID = 250

    def prepare(self):
        self.docs = self.path("docs")
        gen.write_docs(self.spark, self.seed, self.N_DOCS, self.docs, self.cores * 2)
        self.layer = gen.star_layer(self.seed, self.FEATURES, self.VERTICES)
        self.cfg = gen.unit_grid(self.GRID, self.GRID)
        self.dem_arr = gen.smooth_dem(self.seed, self.GRID, self.GRID)
        gen.write_table(gen.grid_table(self.dem_arr), self.path("dem"))
        for name in ("tag", "paint", "clip", "slope", "zonal", "readback"):
            self.path(name)
        self.tif = os.path.join(self.work, "slope.tif")
        cells_n = self.GRID * self.GRID
        self.n_docs = self.N_DOCS
        verts = gen.layer_vertices(self.layer)
        if verts <= pip.EXPR_MAX_VERTICES:
            raise ValueError(f"layer has {verts} vertices; it must exceed "
                             f"EXPR_MAX_VERTICES={pip.EXPR_MAX_VERTICES}")
        self.props.update(docs=self.N_DOCS, layer_features=self.FEATURES,
                          layer_vertices=verts, expr_max_vertices=pip.EXPR_MAX_VERTICES,
                          grid_cells=cells_n)

    def run(self, tr):
        spark, cfg, out = self.spark, self.cfg, self.out
        for _ in range(self.PIP_REPEATS):
            with tr.span("pip"):
                geo = derive.with_geometry(spark.read.parquet(self.docs), "doc_id")
                _save(tr, pip.tag_polygon(geo, self.layer).select("doc_id", "poly_fid"),
                      out["tag"])
        with tr.span("raster.paint"):
            _save(tr, raster.polygons_to_raster(spark, self.layer, cfg, field="zone"), out["paint"])
        with tr.span("raster.clip"):
            dem = spark.read.parquet(out["dem"])
            _save(tr, raster.clip_raster_to_polygon(dem, self.layer, cfg), out["clip"])
        with tr.span("focal"):
            _save(tr, focal.slope(spark.read.parquet(out["clip"]), cfg), out["slope"])
        slope = spark.read.parquet(out["slope"])
        with tr.span("zonal"):
            _save(tr, zonal.zonal_statistics(slope, spark.read.parquet(out["paint"])), out["zonal"])
        with tr.span("geotiff.write"):
            geotiff.write_geotiff(slope, cfg, self.tif)
        with tr.span("geotiff.read"):
            _save(tr, geotiff.read_geotiff(spark, self.tif).select("row", "col", "value"),
                  out["readback"])

    def check(self):
        return checks.polygon_raster(self.con, self.layer, self.docs, self.out, self.cfg,
                                     self.dem_arr)

    def layers(self, spans):
        clipped = self.spark.read.parquet(self.out["clip"]).count()
        p, pa, cl, fo, zo, gw, gr = (
            _span_stats(spans, n) for n in
            ("pip", "raster.paint", "raster.clip", "focal", "zonal", "geotiff.write",
             "geotiff.read"))
        return {
            "pip.wall_s": p["wall"], "pip.python_s": p["plan"].get("pythonTotalTime", 0.0),
            "pip.arrow_bytes_sent": p["plan"].get("pythonDataSent", 0.0),
            "pip.arrow_bytes_recv": p["plan"].get("pythonDataReceived", 0.0),
            "pip.tasks_failed": p["tasks_failed"],
            "raster.paint_s": pa["wall"],
            "raster.paint_python_s": pa["plan"].get("pythonTotalTime", 0.0),
            "raster.clip_s": cl["wall"],
            # cells handed to the paint and clip UDFs
            "raster.cells_tested": pa["plan"].get("python_rows_in", 0)
            + cl["plan"].get("python_rows_in", 0),
            "raster.tasks_failed": pa["tasks_failed"] + cl["tasks_failed"],
            "focal.wall_s": fo["wall"],
            # rows the stencil UDF received (tile interiors plus halos)
            # per cell of its input
            "focal.halo_ratio": fo["plan"].get("python_rows_in", 0) / max(clipped, 1),
            "focal.python_s": fo["plan"].get("pythonTotalTime", 0.0),
            "focal.shuffle_bytes": fo["plan"].get("shuffleBytesWritten", 0.0),
            "focal.tasks_failed": fo["tasks_failed"],
            "zonal.wall_s": zo["wall"],
            "zonal.shuffle_bytes": zo["plan"].get("shuffleBytesWritten", 0.0),
            "zonal.tasks_failed": zo["tasks_failed"],
            "geotiff.write_s": gw["wall"], "geotiff.read_s": gr["wall"],
            "geotiff.tasks_failed": gw["tasks_failed"] + gr["tasks_failed"],
        }

    def facts(self):
        tag = self.spark.read.parquet(self.out["tag"])
        return {
            "pip.hit_ratio": tag.where(F.col("poly_fid").isNotNull()).count() / self.N_DOCS,
            "geotiff.bytes": _bytes(self.tif),
        }


# -------------------------------------------------------------- neighbours


class Neighbours(Workload):
    """Hot-spot point cloud split into points and queries: radius join,
    kNN join (k=4) and IDW gridding."""

    name = "neighbours"
    N_CLOUD, QUERY_SHARE = 60_000, 0.1
    HOT_SHARE, N_HOT, SIGMA = 0.2, 4, 12.0
    RADIUS, K = 5.0, 4
    IDW_GRID, IDW_RADIUS = 50, 5.0
    SAMPLE = 200

    def prepare(self):
        cloud = gen.hotspot_cloud(self.seed, self.N_CLOUD, self.HOT_SHARE, self.N_HOT, self.SIGMA)
        rng = gen.rng_for(self.seed, "split")
        is_q = rng.random(len(cloud)) < self.QUERY_SHARE
        self.pts_pd = cloud[~is_q].reset_index(drop=True)
        self.qry_pd = cloud[is_q].reset_index(drop=True)
        for name, pdf in (("points", self.pts_pd), ("queries", self.qry_pd)):
            gen.write_table(pdf, self.path(name))
        self.sample = np.sort(rng.choice(self.qry_pd["id"].to_numpy(), self.SAMPLE, replace=False))
        self.cfg = gen.unit_grid(self.IDW_GRID, self.IDW_GRID)
        for name in ("radius", "knn", "idw"):
            self.path(name)
        # share of points in the 1% most populated occupied join cells
        size = self.RADIUS * 0.5
        key = (np.floor(cloud["x"] / size) * 1e6 + np.floor(cloud["y"] / size)).to_numpy()
        occ = np.sort(np.unique(key, return_counts=True)[1])[::-1]
        top = occ[: max(1, len(occ) // 100)].sum()
        self.props.update(points=len(self.pts_pd), queries=len(self.qry_pd),
                          hot_share=self.HOT_SHARE, hot_spots=self.N_HOT,
                          occupied_cells=int(len(occ)),
                          hot_cell_share=float(top / len(cloud)),
                          max_cell_points=int(occ[0]))

    def run(self, tr):
        spark, out = self.spark, self.out
        pts = spark.read.parquet(out["points"])
        qry = spark.read.parquet(out["queries"]).withColumnRenamed("id", "qid")
        with tr.span("radius_join"):
            _save(tr, radius_join.radius_join(pts, qry, self.RADIUS).select("qid", "id_p", "dist"),
                  out["radius"])
        with tr.span("knn"):
            _save(tr, radius_join.knn_join(pts, qry, self.K, self.RADIUS, query_id="qid").select(
                "qid", "id_p", "knn_rank", "dist"), out["knn"])
        with tr.span("idw"):
            pz = pts.withColumn("z", F.col("x") * 0.01 + F.col("y") * 0.02)
            _save(tr, gridding.idw_grid(pz, self.cfg, radius=self.IDW_RADIUS), out["idw"])

    def check(self):
        bad = checks.neighbours(self.con, self.pts_pd, self.qry_pd, self.sample, self.RADIUS,
                                self.K, self.out)
        pz = self.pts_pd.assign(z=self.pts_pd["x"] * 0.01 + self.pts_pd["y"] * 0.02)
        return bad + checks.idw(self.con, pz, self.cfg, self.IDW_RADIUS,
                                checks._written(self.out["idw"], "cell, value"))

    def layers(self, spans):
        r, k, i = (_span_stats(spans, n) for n in ("radius_join", "knn", "idw"))
        return {
            "radius_join.wall_s": r["wall"],
            # query rows after the explode into probe cells, and pairs out of
            # the join (the distance test is part of the join condition)
            "radius_join.probe_rows": r["plan"].get("generate_rows", 0),
            "radius_join.pairs": r["plan"].get("max_join_rows", 0),
            "radius_join.shuffle_bytes": r["plan"].get("shuffleBytesWritten", 0.0),
            "radius_join.skew": r["skew"], "radius_join.tasks_failed": r["tasks_failed"],
            "knn.wall_s": k["wall"],
            "knn.candidates_per_query": k["plan"].get("max_join_rows", 0) / len(self.qry_pd),
            "knn.python_s": k["plan"].get("pythonTotalTime", 0.0), "knn.spark_jobs": k["jobs"],
            "knn.tasks_failed": k["tasks_failed"],
            "idw.wall_s": i["wall"], "idw.tasks_failed": i["tasks_failed"],
            # cells left out by the radius search (the anti join) go to kNN
            "idw.fallback_frac": i["plan"].get("max_anti_join_rows", 0)
            / (self.IDW_GRID * self.IDW_GRID),
        }

    def facts(self):
        pts = self.spark.read.parquet(self.out["points"])
        return {
            "knn.occupied_cells": cells.with_cell(pts, self.RADIUS).select("cell_key")
            .distinct().count(),
        }


# ----------------------------------------------------------- flow_fixpoint


class FlowFixpoint(Workload):
    """Small DEM whose D8 flow paths need a dozen fixpoint rounds: flow
    accumulation and watershed, both driver-side fixpoint loops."""

    name = "flow_fixpoint"
    SIZE, SPACING = 100, 16

    def prepare(self):
        self.dem_arr, self.outlets = gen.basin_dem(self.seed, self.SIZE, self.SPACING)
        self.cfg = gen.unit_grid(self.SIZE, self.SIZE)
        gen.write_table(gen.grid_table(self.dem_arr), self.path("dem"))
        gen.write_table(pd.DataFrame({
            "row": self.outlets[:, 0].astype(np.int64), "col": self.outlets[:, 1].astype(np.int64),
            "value": np.arange(1, len(self.outlets) + 1, dtype=np.int64)}), self.path("pour"))
        self.path("acc"), self.path("watershed")
        *_, longest = checks.d8_reference(self.dem_arr, self.cfg.res_x, self.outlets)
        self.props.update(dem_cells=self.SIZE * self.SIZE, outlets=len(self.outlets),
                          longest_flow_path=longest)

    def run(self, tr):
        spark, out = self.spark, self.out
        dem = spark.read.parquet(out["dem"])
        with tr.span("d8"):
            _save(tr, hydro.d8_flow_accumulation(dem, self.cfg), out["acc"])
        with tr.span("watershed"):
            _save(tr, hydro.watershed(dem, spark.read.parquet(out["pour"]), self.cfg),
                  out["watershed"])

    def check(self):
        return checks.flow(self.con, self.dem_arr, self.cfg.res_x, self.outlets, self.out)

    def layers(self, spans):
        d, w = _span_stats(spans, "d8"), _span_stats(spans, "watershed")
        return {
            "d8.wall_s": d["wall"], "d8.spark_jobs": d["jobs"],
            "d8.s_per_job": d["wall"] / max(d["jobs"], 1), "d8.tasks_failed": d["tasks_failed"],
            "watershed.wall_s": w["wall"], "watershed.spark_jobs": w["jobs"],
            "watershed.tasks_failed": w["tasks_failed"],
        }

    def facts(self):
        return {}


class Composite(Workload):
    """Several jobs run back to back in one pass, each inside a span named
    after it, so the trace still separates them. They share a benchmark
    workload because the run budget (fresh JVM per run) holds only two."""

    PARTS: tuple = ()

    def __init__(self, spark, cores, seed, work, con):
        super().__init__(spark, cores, seed, work, con)
        self.parts = [cls(spark, cores, seed, os.path.join(work, cls.name), con)
                      for cls in self.PARTS]

    def prepare(self):
        for p in self.parts:
            p.prepare()
            self.props.update(p.props)
        self.n_docs = sum(p.n_docs for p in self.parts)

    def warm(self, run_pass):
        """Start one Python worker per core with the engine's UDF modules
        imported. A whole untimed pass does not fit the run budget."""
        spark, n = self.spark, self.cores
        spark.range(0, n * 16, 1, n).mapInPandas(_touch_engine, "id long").collect()

    def run(self, tr):
        for p in self.parts:
            with tr.span(p.name):
                p.run(tr)

    def check(self):
        return sum(p.check() for p in self.parts)

    def layers(self, spans):
        out = {f"{p.name}.wall_s": _span_stats(spans, p.name)["wall"] for p in self.parts}
        for p in self.parts:
            out.update(p.layers(spans))
        return out

    def facts(self):
        return {k: v for p in self.parts for k, v in p.facts().items()}


class PolygonNeighboursFlow(Composite):
    name = "polygon_neighbours_flow"
    DOCS_SPAN = PolygonRaster.DOCS_SPAN
    # the Arrow PIP job, whose span gives docs_per_s, runs last: the first
    # jobs of the one timed pass still pay the JIT warm-up
    PARTS = (Neighbours, FlowFixpoint, PolygonRaster)


WORKLOADS = {w.name: w for w in (DocsOverlay, PolygonNeighboursFlow)}


def clean(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
