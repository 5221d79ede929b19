"""Radius & kNN join parity vs the FRS numpy oracle (incl. the reference's
own pinned constellation, fixed_radius_search.rs:468-559)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from whitebox_tools_spark import derive
from whitebox_tools_spark.kernels.frs import frs_knn_search, frs_radius_search
from whitebox_tools_spark.operators.radius_join import knn_join, radius_join

FRS_PTS = [
    (1, 40.0, 32.0),
    (2, 25.0, 65.0),
    (3, 42.0, 35.0),
    (4, 40.0, 31.0),
    (5, 24.0, 68.0),
]


@pytest.fixture(scope="module")
def frs_points(spark):
    return spark.createDataFrame(FRS_PTS, "pid long, x double, y double")


def test_radius_join_reference_constellation(spark, frs_points):
    q = spark.createDataFrame([(0, 40.5, 31.5)], "qid long, x double, y double")
    got = radius_join(frs_points, q, 0.75).select("pid_p", "dist").collect()
    assert sorted((r["pid_p"], round(r["dist"], 12)) for r in got) == [
        (1, round(0.7071067811865476, 12)),
        (4, round(0.7071067811865476, 12)),
    ]


def test_knn_join_reference_constellation(spark, frs_points):
    q = spark.createDataFrame([(0, 40.5, 31.5)], "qid long, x double, y double")
    got = knn_join(frs_points, q, k=3, radius=0.75).select("pid_p", "dist").collect()
    assert sorted((r["pid_p"], round(r["dist"], 12)) for r in got) == sorted(
        [
            (4, round(0.7071067811865476, 12)),
            (1, round(0.7071067811865476, 12)),
            (3, round(3.8078865529319543, 12)),
        ]
    )


def test_radius_join_parity_random(spark):
    n_pts, n_q, radius = 300, 40, 60.0
    ids = np.arange(n_pts)
    px, py = derive.np_coord(ids, "x"), derive.np_coord(ids, "y")
    qids = np.arange(n_q) + 10_000
    qx, qy = derive.np_coord(qids, "x"), derive.np_coord(qids, "y")

    pts = spark.createDataFrame(
        [(int(i), float(a), float(b)) for i, a, b in zip(ids, px, py)],
        "pid long, x double, y double",
    )
    qs = spark.createDataFrame(
        [(int(i), float(a), float(b)) for i, a, b in zip(qids, qx, qy)],
        "qid long, x double, y double",
    )
    got = radius_join(pts, qs, radius).select("qid", "pid_p", "dist").collect()
    got_set = {(r["qid"], r["pid_p"], round(r["dist"], 9)) for r in got}

    expect = set()
    for qi, qqx, qqy in zip(qids, qx, qy):
        for v, d in frs_radius_search(px, py, ids, qqx, qqy, radius):
            expect.add((int(qi), int(v), round(d, 9)))
    assert got_set == expect
    assert len(expect) > 50  # fixture dense enough to be meaningful


def _assert_knn_parity(spark, px, py, qx, qy, k, radius):
    """Every query's knn_join neighbours equal frs_knn_search's."""
    ids = np.arange(len(px))
    qids = np.arange(len(qx)) + 50_000
    pts = spark.createDataFrame(
        [(int(i), float(a), float(b)) for i, a, b in zip(ids, px, py)],
        "pid long, x double, y double",
    )
    qs = spark.createDataFrame(
        [(int(i), float(a), float(b)) for i, a, b in zip(qids, qx, qy)],
        "qid long, x double, y double",
    )
    got = knn_join(pts, qs, k=k, radius=radius).select("qid", "pid_p", "dist").collect()

    by_q = {}
    for r in got:
        by_q.setdefault(r["qid"], []).append((r["pid_p"], round(r["dist"], 9)))

    for qi, qqx, qqy in zip(qids, qx, qy):
        expect = frs_knn_search(px, py, ids, qqx, qqy, k, radius)
        exp = sorted((int(v), round(d, 9)) for v, d in expect)
        assert sorted(by_q.get(int(qi), [])) == exp, (int(qi), k)


def test_knn_join_parity_random(spark):
    """Parity with the FRS oracle on the derived cloud, on negative
    coordinates, on queries up to 50x the point spread away (many shells
    out), and for k from 1 to above the point count."""
    n_pts, n_q = 200, 25
    ids = np.arange(n_pts)
    qids = np.arange(n_q) + 50_000
    _assert_knn_parity(
        spark,
        derive.np_coord(ids, "x"), derive.np_coord(ids, "y"),
        derive.np_coord(qids, "x"), derive.np_coord(qids, "y"),
        k=5, radius=30.0,
    )

    rng = np.random.default_rng(9)
    px, py = rng.uniform(-900.0, -100.0, 150), rng.uniform(-400.0, 300.0, 150)
    qx, qy = rng.uniform(-950.0, -50.0, 20), rng.uniform(-450.0, 350.0, 20)
    _assert_knn_parity(spark, px, py, qx, qy, k=6, radius=40.0)

    px, py = rng.uniform(0.0, 50.0, 40), rng.uniform(0.0, 50.0, 40)
    ang = rng.uniform(0.0, 2 * np.pi, 20)
    far = rng.uniform(1.0, 50.0, 20) * 50.0
    _assert_knn_parity(
        spark, px, py, 25.0 + far * np.cos(ang), 25.0 + far * np.sin(ang), k=3, radius=4.0
    )

    px, py = rng.uniform(-30.0, 30.0, 12), rng.uniform(-30.0, 30.0, 12)
    qx, qy = rng.uniform(-60.0, 60.0, 10), rng.uniform(-60.0, 60.0, 10)
    for k in (1, 4, 12, 17):
        _assert_knn_parity(spark, px, py, qx, qy, k=k, radius=5.0)


def test_knn_far_query_keeps_the_shell_stop(spark):
    """A query far from every point stops at the first shell that holds
    k points, as frs_knn_search does, even when a point one shell further
    out is nearer: pid 1 (shell 10) at 14.1421, not pid 2 (shell 11) at
    13.6015."""
    pts = spark.createDataFrame(
        [(1, -9.5, -9.5), (2, -10.5, -7.5)], "pid long, x double, y double"
    )
    q = spark.createDataFrame([(0, 0.5, 0.5)], "qid long, x double, y double")
    got = knn_join(pts, q, k=1, radius=2.0).select("pid_p", "dist").collect()
    assert [(r["pid_p"], round(r["dist"], 4)) for r in got] == [(1, 14.1421)]
    px, py = np.array([-9.5, -10.5]), np.array([-9.5, -7.5])
    assert frs_knn_search(px, py, np.array([1, 2]), 0.5, 0.5, 1, 2.0)[0][0] == 1


def test_knn_join_rejects_k_below_one(spark, frs_points):
    q = spark.createDataFrame([(0, 40.5, 31.5)], "qid long, x double, y double")
    for k in (0, -1):
        with pytest.raises(ValueError, match="k >= 1"):
            knn_join(frs_points, q, k=k, radius=0.75)


def test_idw_grid_min_points_below_one_has_no_fallback(spark):
    """min_points < 1 runs no kNN fallback: the cells no point is within
    radius of stay null, and the others keep their radius IDW value."""
    from whitebox_tools_spark.operators.gridding import GridConfig, idw_grid

    cfg = GridConfig(rows=6, cols=6, north=60.0, west=0.0, res_x=10.0, res_y=10.0)
    pts = spark.createDataFrame(
        [(1, 12.0, 48.0, 3.0), (2, 15.0, 41.0, 5.0), (3, 44.0, 17.0, 7.0)],
        "pid long, x double, y double, z double",
    )
    fill = {r["cell"]: r["value"] for r in idw_grid(pts, cfg, radius=8.0).collect()}
    for min_points in (0, -2):
        got = {
            r["cell"]: r["value"]
            for r in idw_grid(pts, cfg, radius=8.0, min_points=min_points).collect()
        }
        assert got.keys() == fill.keys()
        reached = {c for c, v in got.items() if v is not None}
        assert 0 < len(reached) < len(got)
        assert all(fill[c] is not None for c in got)  # min_points=1 fills all
        assert {c: got[c] for c in reached} == {c: fill[c] for c in reached}


def test_knn_k_exceeds_population(spark, frs_points):
    q = spark.createDataFrame([(0, 40.5, 31.5)], "qid long, x double, y double")
    got = knn_join(frs_points, q, k=50, radius=0.75).collect()
    assert len(got) == 5


class TestSalting:
    def test_two_stage_salted_agg_equals_plain(self, spark):
        """Hot-key two-stage aggregation (group on (key, salt), then merge
        by key) must equal the direct groupBy — exactness of the skew path."""
        from pyspark.sql import functions as F

        from whitebox_tools_spark.operators.cells import with_salt

        # one very hot key (0) + a long tail
        df = spark.range(20000).select(
            F.col("id"),
            F.when(F.col("id") % 4 != 0, 0).otherwise(F.col("id") % 97).alias("key"),
            (F.col("id") % 13).cast("double").alias("v"),
        )
        salted = with_salt(df, "id", n_salt=8)
        partial = salted.groupBy("key", "salt").agg(
            F.sum("v").alias("s"), F.count(F.lit(1)).alias("c")
        )
        merged = partial.groupBy("key").agg(
            F.sum("s").alias("sum_v"), F.sum("c").alias("n")
        )
        direct = df.groupBy("key").agg(
            F.sum("v").alias("sum_v"), F.count(F.lit(1)).alias("n")
        )
        assert merged.exceptAll(direct).count() == 0
        assert direct.exceptAll(merged).count() == 0

    def test_salted_join_equals_plain(self, spark):
        from pyspark.sql import functions as F

        from whitebox_tools_spark.operators.cells import explode_salt, with_salt

        big = spark.range(10000).select(
            F.col("id"), (F.col("id") % 7).alias("key"), (F.col("id") * 2).alias("v")
        )
        dim = spark.range(7).select(
            F.col("id").alias("key"), (F.col("id") * 10).alias("w")
        )
        plain = big.join(dim, "key").select("id", "v", "w")
        salted = (
            with_salt(big, "id", n_salt=4)
            .join(explode_salt(dim, n_salt=4), ["key", "salt"])
            .select("id", "v", "w")
        )
        assert salted.exceptAll(plain).count() == 0
        assert plain.exceptAll(salted).count() == 0
