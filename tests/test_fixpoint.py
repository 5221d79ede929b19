"""The one iteration driver (operators/graph.py): exact results when the
round budget suffices, a ``not converged`` RuntimeWarning when it runs
out — never a silently partial result."""

import warnings

import pytest
from pyspark.sql import functions as F

from whitebox_tools_spark.operators.graph import changed, expand, fixpoint
from whitebox_tools_spark.operators.gridding import GridConfig
from whitebox_tools_spark.operators.streams import shreve_magnitude

N = 6  # toy chain 0 -> 1 -> ... -> N-1


def _chain(spark):
    nodes = spark.range(N).select(F.col("id"))
    edges = spark.range(N - 1).select(F.col("id").alias("a"), (F.col("id") + 1).alias("b"))
    return nodes, edges


def _depth(spark, max_rounds):
    """val(i) = number of nodes upstream of i on the chain."""
    nodes, edges = _chain(spark)

    def step(cur):
        up = edges.join(cur, edges.a == cur.id).select(
            F.col("b").alias("id"), (F.col("val") + 1).alias("s")
        )
        return nodes.join(up, "id", "left").select(
            "id", F.coalesce("s", F.lit(0)).alias("val")
        )

    init = nodes.select("id", F.lit(0).alias("val"))
    out = fixpoint(init, step, changed("id", "val"), max_rounds, "toy_depth")
    return {r.id: r.val for r in out.collect()}


def _reach(spark, max_rounds):
    """Every chain node reachable from node 0."""
    _, edges = _chain(spark)

    def step(frontier, known):
        return (
            edges.join(frontier, edges.a == frontier.id)
            .select(F.col("b").alias("id"))
            .join(known, "id", "left_anti")
        )

    seed = spark.range(1).select("id")
    return sorted(r.id for r in expand(seed, step, max_rounds, "toy_reach").collect())


def _nonconverged(record):
    return [w for w in record if "not converged" in str(w.message)]


def test_fixpoint_exact_and_quiet(spark):
    with warnings.catch_warnings(record=True) as record:
        warnings.simplefilter("always")
        assert _depth(spark, max_rounds=2 * N) == {i: i for i in range(N)}
    assert _nonconverged(record) == []


def test_fixpoint_warns_when_bound_runs_out(spark):
    with pytest.warns(RuntimeWarning, match="toy_depth: fixpoint not converged after 2 rounds"):
        _depth(spark, max_rounds=2)


def test_expand_exact_and_quiet(spark):
    with warnings.catch_warnings(record=True) as record:
        warnings.simplefilter("always")
        assert _reach(spark, max_rounds=N) == list(range(N))
    assert _nonconverged(record) == []


def test_expand_warns_when_bound_runs_out(spark):
    with pytest.warns(RuntimeWarning, match="toy_reach: fixpoint not converged"):
        assert _reach(spark, max_rounds=2) == [0, 1, 2]


def _comb(spark):
    """A 6-cell main stream flowing east along row 0, fed at cols 1..5 by
    one-cell tributaries flowing north from row 1: Shreve magnitude grows
    by one per junction, so it needs five propagation rounds."""
    east, north = 1, 7  # D8 direction indices (hydro.D8_DX / D8_DY)
    cells = [(0, c, east) for c in range(N)] + [(1, c, north) for c in range(1, N)]
    streams = spark.createDataFrame(
        [(r, c, 1.0) for r, c, _ in cells], "row int, col int, value double"
    )
    dirs = spark.createDataFrame(cells, "row int, col int, dir int")
    cfg = GridConfig(rows=2, cols=N + 1, north=2.0, west=0.0, res_x=1.0, res_y=1.0)
    return streams, dirs, cfg


def test_shreve_magnitude_exact(spark):
    streams, dirs, cfg = _comb(spark)
    with warnings.catch_warnings(record=True) as record:
        warnings.simplefilter("always")
        got = {(r.row, r.col): r.value for r in shreve_magnitude(streams, dirs, cfg).collect()}
    assert _nonconverged(record) == []
    assert got == {
        **{(0, c): float(c + 1) for c in range(N)},
        **{(1, c): 1.0 for c in range(1, N)},
    }


def test_shreve_magnitude_warns_when_bound_runs_out(spark):
    streams, dirs, cfg = _comb(spark)
    with pytest.warns(RuntimeWarning, match="shreve_magnitude: fixpoint not converged"):
        shreve_magnitude(streams, dirs, cfg, max_rounds=1).collect()
