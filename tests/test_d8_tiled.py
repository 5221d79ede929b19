"""Tiled D8 flow routing (operators/hydro.py): d8_flow_accumulation and
watershed against a numpy D8 walk, at one tile and at tile sizes whose
seams cut flow paths many times."""

import math
import warnings

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import types as T

from whitebox_tools_spark.operators import graph, hydro
from whitebox_tools_spark.operators.gridding import GridConfig
from whitebox_tools_spark.operators.hydro3 import flow_accumulation_full_workflow

SIZE = 40
CFG = GridConfig(rows=SIZE, cols=SIZE, north=float(SIZE), west=0.0, res_x=1.0, res_y=1.0)
# pour points on tile seams of t = 16, 7 and 5, plus two basin outlets
POURS = [(15, 16), (16, 20), (7, 30), (20, 14), (34, 5), (10, 10), (30, 30)]


def _basin_dem(seed=7):
    """Distance to the nearest of four outlets, anisotropic per outlet,
    plus tie-breaking noise and 2 % NoData holes (never on a pour point)."""
    rng = np.random.default_rng(seed)
    outlets = [(10, 10), (10, 30), (30, 10), (30, 30)]
    r, c = np.mgrid[0:SIZE, 0:SIZE].astype(np.float64)
    dist = [
        np.sqrt(rng.uniform(0.7, 1.3) * (r - a) ** 2 + rng.uniform(0.7, 1.3) * (c - b) ** 2)
        for a, b in outlets
    ]
    dem = np.min(dist, axis=0) + rng.uniform(0.0, 1e-3, size=r.shape)
    holes = rng.random(dem.shape) < 0.02
    for pr, pc in POURS:
        holes[pr, pc] = False
    dem[holes] = np.nan
    return dem


def _next_cells(dem):
    """Flat index of each cell's D8 target (-1 for pits and NoData):
    steepest strictly positive drop, first maximum in D8_DX/D8_DY order."""
    rows, cols = dem.shape
    lengths = [math.sqrt(2.0), 1.0] * 4
    best = np.full(dem.shape, -np.inf)
    d = np.full(dem.shape, -1, dtype=np.int64)
    pad = np.pad(dem, 1, constant_values=np.nan)
    for i, (dx, dy) in enumerate(zip(hydro.D8_DX, hydro.D8_DY)):
        nb = pad[1 + dy:1 + dy + rows, 1 + dx:1 + dx + cols]
        with np.errstate(invalid="ignore"):
            s = (dem - nb) / lengths[i]
        upd = ~np.isnan(nb) & (s > best) & (s > 0.0)
        best = np.where(upd, s, best)
        d = np.where(upd, i, d)
    r, c = np.divmod(np.arange(rows * cols), cols)
    d = d.ravel()
    k = np.clip(d, 0, 7)
    dy, dx = np.take(hydro.D8_DY, k), np.take(hydro.D8_DX, k)
    return np.where(d >= 0, (r + dy) * cols + c + dx, -1)


def _reference(dem):
    """(accumulation, watershed label) per valid flat index; heights fall
    strictly along a path, so highest-first is a topological order."""
    nxt = _next_cells(dem)
    flat = dem.ravel()
    valid = np.flatnonzero(~np.isnan(flat))
    order = valid[np.argsort(-flat[valid], kind="stable")]
    acc = np.ones(flat.size)
    for i in order:
        if nxt[i] >= 0:
            acc[nxt[i]] += acc[i]
    label = np.zeros(flat.size, dtype=np.int64)
    for k, (pr, pc) in enumerate(POURS, start=1):
        label[pr * SIZE + pc] = k
    for i in order[::-1]:
        if label[i] == 0 and nxt[i] >= 0:
            label[i] = label[nxt[i]]
    return {int(i): acc[i] for i in valid}, {int(i): int(label[i]) for i in valid if label[i]}


def _max_crossings(dem, t):
    """Most tile seams any one flow path crosses."""
    nxt = _next_cells(dem)

    def tile(i):
        return i // SIZE // t, i % SIZE // t

    best = 0
    for i in np.flatnonzero(~np.isnan(dem.ravel())):
        n = 0
        while nxt[i] >= 0:
            n += tile(i) != tile(nxt[i])
            i = nxt[i]
        best = max(best, n)
    return best


def _frames(spark, dem):
    r, c = np.divmod(np.arange(dem.size), SIZE)
    keep = ~np.isnan(dem.ravel())
    raster = spark.createDataFrame(
        pd.DataFrame({"row": r[keep], "col": c[keep], "value": dem.ravel()[keep]})
    )
    pour = spark.createDataFrame(
        pd.DataFrame(
            {
                "row": [p[0] for p in POURS],
                "col": [p[1] for p in POURS],
                "value": np.arange(1, len(POURS) + 1, dtype=np.int64),
            }
        )
    )
    return raster, pour


def _nonconverged(record):
    return [w for w in record if "not converged" in str(w.message)]


@pytest.fixture(scope="module")
def dem():
    return _basin_dem()


@pytest.mark.parametrize("tile_size", [64, 16, 7, 5])
def test_matches_numpy_walk(spark, dem, tile_size):
    raster, pour = _frames(spark, dem)
    ref_acc, ref_label = _reference(dem)
    with warnings.catch_warnings(record=True) as record:
        warnings.simplefilter("always")
        acc = hydro.d8_flow_accumulation(raster, CFG, tile_size=tile_size)
        ws = hydro.watershed(raster, pour, CFG, tile_size=tile_size)
        got_acc = {r.row * SIZE + r.col: r.value for r in acc.collect()}
        got_ws = [(r.row * SIZE + r.col, r.value) for r in ws.collect()]
    assert _nonconverged(record) == []
    assert got_acc == ref_acc
    assert len(got_ws) == len(ref_label)
    assert dict(got_ws) == ref_label
    assert [(f.name, f.dataType) for f in acc.schema.fields] == [
        ("row", T.LongType()), ("col", T.LongType()), ("value", T.DoubleType())
    ]
    assert [(f.name, f.dataType) for f in ws.schema.fields] == [
        ("row", T.LongType()), ("col", T.LongType()), ("value", T.LongType())
    ]


def test_exit_loop_rounds_are_recorded(spark, dem):
    """The exit-cell loop converges within the tile-crossing bound: a
    forest of depth D (<= crossings - 1) is stable after D steps, and the
    two-step check then needs at most three more steps."""
    tile_size = 5
    raster, _ = _frames(spark, dem)
    graph.ROUNDS.clear()
    hydro.d8_flow_accumulation(raster, CFG, tile_size=tile_size).collect()
    records = [r for r in graph.ROUNDS if r[0] == "d8_flow_accumulation"]
    assert len(records) == 1
    _, rounds, converged = records[0]
    assert converged
    assert rounds <= _max_crossings(dem, tile_size) + 2


def test_full_workflow_bounds_the_exit_loop(spark, dem):
    raster, _ = _frames(spark, dem)
    with pytest.warns(
        RuntimeWarning, match="d8_flow_accumulation: fixpoint not converged after 1 rounds"
    ):
        flow_accumulation_full_workflow(raster, CFG, accum_rounds=1, tile_size=5)


def test_duplicate_raster_cell_raises(spark, dem):
    raster, _ = _frames(spark, dem)
    dup = raster.where("(row = 3 AND col = 4) OR (row = 21 AND col = 9)")
    with pytest.raises(ValueError, match=r"duplicate cell \(3, 4\) in the raster"):
        hydro.d8_flow_accumulation(raster.unionByName(dup), CFG, tile_size=64)


def test_duplicate_pour_point_raises(spark, dem):
    raster, pour = _frames(spark, dem)
    dup = pour.where("row = 16 AND col = 20")
    with pytest.raises(ValueError, match=r"duplicate cell \(16, 20\) in the pour points"):
        hydro.watershed(raster, pour.unionByName(dup), CFG, tile_size=7)
