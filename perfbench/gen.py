"""Seeded input generators. The engine receives only what these return:
tables written as parquet and polygon layers. The same seed gives the
same inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from whitebox_tools_spark.operators.gridding import GridConfig
from whitebox_tools_spark.sources.vectors import PolygonFeature


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input, so resizing one input leaves the
    others unchanged."""
    return np.random.default_rng([seed, sum(map(ord, stream)) * 1_000_003 + len(stream)])


def id_offset(seed: int) -> int:
    """Start of the seed's doc-id range (ids stay far below 2^62)."""
    return int(rng_for(seed, "ids").integers(0, 1 << 40))


def write_docs(spark, seed: int, n_docs: int, path: str, partitions: int) -> int:
    """Docs table ``(doc_id, spans)`` over a seed-offset id range, with
    spans from ``sources.docs.spans_col``; written as parquet."""
    from pyspark.sql import functions as F

    from whitebox_tools_spark.sources.docs import spans_col

    off = id_offset(seed)
    ids = spark.range(off, off + n_docs, numPartitions=partitions)
    ids.select(F.col("id").alias("doc_id"), spans_col(F.col("id")).alias("spans")).write.mode(
        "overwrite"
    ).parquet(path)
    return off


def star_layer(
    seed: int, n_features: int, n_vertices: int, hole_every: int = 5
) -> list[PolygonFeature]:
    """Star-shaped polygons over [0, 1000)^2: clockwise shells of
    ``n_vertices`` distinct vertices, closed; every ``hole_every``-th
    feature gets a counter-clockwise square hole. Features overlap, so
    the last-wins order matters."""
    rng = rng_for(seed, "layer")
    layer = []
    for fid in range(1, n_features + 1):
        cx, cy = rng.uniform(120.0, 880.0, size=2)
        radius = rng.uniform(40.0, 110.0)
        theta = -np.linspace(0.0, 2 * np.pi, n_vertices, endpoint=False)  # clockwise
        rad = radius * rng.uniform(0.55, 1.0, size=n_vertices)
        ring = np.column_stack([cx + rad * np.cos(theta), cy + rad * np.sin(theta)])
        rings, holes = [np.vstack([ring, ring[:1]])], [False]
        if fid % hole_every == 0:
            h = radius * 0.2
            sq = np.array(
                [[cx - h, cy - h], [cx + h, cy - h], [cx + h, cy + h], [cx - h, cy + h]]
            )  # counter-clockwise
            rings.append(np.vstack([sq, sq[:1]]))
            holes.append(True)
        layer.append(PolygonFeature(fid=fid, rings=rings, holes=holes, attrs={"zone": fid}))
    return layer


def layer_vertices(layer: list[PolygonFeature]) -> int:
    return sum(len(r) for f in layer for r in f.rings)


def smooth_dem(seed: int, rows: int, cols: int) -> np.ndarray:
    """Terrain of a few Gaussian hills on a tilted plane (metres)."""
    rng = rng_for(seed, "dem")
    r, c = np.mgrid[0:rows, 0:cols].astype(np.float64)
    z = 100.0 + 0.02 * r + 0.01 * c
    for _ in range(6):
        hr, hc = rng.uniform(0, rows), rng.uniform(0, cols)
        s = rng.uniform(0.08, 0.2) * max(rows, cols)
        z += rng.uniform(5.0, 30.0) * np.exp(-((r - hr) ** 2 + (c - hc) ** 2) / (2 * s * s))
    return z + rng.normal(0.0, 0.05, size=z.shape)


def basin_dem(seed: int, size: int, spacing: int) -> tuple[np.ndarray, np.ndarray]:
    """DEM draining to outlet cells on a fixed lattice ``spacing`` apart:
    height is a seeded anisotropic distance to the nearest outlet plus a
    tiny tie-breaking noise. D8 paths then run up to about spacing / 2
    cells whatever the seed, so the fixpoint loops need a seed-independent
    number of rounds. Returns (dem, outlets), outlets an (n, 2) array of
    (row, col)."""
    rng = rng_for(seed, "basins")
    lattice = np.arange(spacing // 2, size, spacing)
    outlets = np.array([(a, b) for a in lattice for b in lattice])
    r, c = np.mgrid[0:size, 0:size].astype(np.float64)
    aniso = rng.uniform(0.7, 1.3, size=(len(outlets), 2))
    d = np.min(
        [np.sqrt(ar * (r - orow) ** 2 + ac * (c - ocol) ** 2)
         for (orow, ocol), (ar, ac) in zip(outlets, aniso)],
        axis=0,
    )
    return d + rng.uniform(0.0, 1e-3, size=d.shape), outlets


def grid_table(arr: np.ndarray) -> pd.DataFrame:
    """Long-form raster table (row, col, value) over a dense array."""
    rows, cols = arr.shape
    return pd.DataFrame(
        {
            "row": np.repeat(np.arange(rows, dtype=np.int64), cols),
            "col": np.tile(np.arange(cols, dtype=np.int64), rows),
            "value": arr.ravel().astype(np.float64),
        }
    )


def write_table(pdf: pd.DataFrame, path: str) -> None:
    """Write a generated table as a one-file parquet dataset."""
    os.makedirs(path, exist_ok=True)
    pdf.to_parquet(os.path.join(path, "part-0.parquet"), index=False)


def unit_grid(rows: int, cols: int) -> GridConfig:
    """Grid covering [0, 1000)^2 with binary-exact resolution."""
    return GridConfig(rows=rows, cols=cols, north=1000.0, west=0.0,
                      res_x=1000.0 / cols, res_y=1000.0 / rows)


def hotspot_cloud(
    seed: int, n: int, hot_share: float, n_hot: int, sigma: float
) -> pd.DataFrame:
    """Points over [0, 1000)^2: ``hot_share`` of them Gaussian around
    ``n_hot`` seeded centres, the rest uniform. Columns (id, x, y)."""
    rng = rng_for(seed, "cloud")
    n_h = int(n * hot_share)
    centres = rng.uniform(100.0, 900.0, size=(n_hot, 2))
    pick = rng.integers(0, n_hot, size=n_h)
    hot = centres[pick] + rng.normal(0.0, sigma, size=(n_h, 2))
    cold = rng.uniform(0.0, 1000.0, size=(n - n_h, 2))
    xy = np.clip(np.vstack([hot, cold]), 0.0, 999.999)
    xy = xy[rng.permutation(n)]
    return pd.DataFrame({"id": np.arange(n, dtype=np.int64), "x": xy[:, 0], "y": xy[:, 1]})
