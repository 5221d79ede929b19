#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; writes the full record (every query's seconds
under "queries") to .bench_build/bench/ and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec", "sf": <sf>,
     "flagship_docs_per_sec": ..., "host": {...},
     "slowest": {name: sec, ... the 10 slowest}, "record": <path>}

The line stays under 2000 chars whatever the headline set's size, so a
caller that keeps only the tail of stdout still parses it.

The headline set is ``api.HEADLINE``, the union of each catalog module's
``HEADLINE`` marks: one representative per operator family plus the
historically slow queries. ``--queries all`` runs the full catalog.

--scaling additionally runs the flagship pipeline at two parallelism
levels (N and 4N cores, default 8 vs 32) on the same input and reports
throughput at both plus efficiency = (T_N / T_4N) / 4 — the sandbox
evidence for the >=0.8 N->4N scaling criterion (BASELINE.md).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

RECORD_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_build", "bench")
SLOWEST = 10


def result_line(record: dict, path: str) -> str:
    """The stdout JSON line for a full bench ``record`` written to
    ``path``: every field but the per-query dict, which shrinks to the
    ``SLOWEST`` queries."""
    slowest = sorted(record["queries"].items(), key=lambda kv: kv[1], reverse=True)
    line = {k: v for k, v in record.items() if k != "queries"}
    line["slowest"] = dict(slowest[:SLOWEST])
    line["record"] = path
    return json.dumps(line)


def _flagship_synth(spark, n_docs: int, cores: int):
    """North-star pipeline over the interleaved docs table at bench scale:
    synth docs (JVM-side) -> derive geometry -> LidarTile -> PIP overlay tag
    (codegen expression path — zero Python) -> per-(tile, poly) aggregate.
    The testdata documents table is tiny (500-5000 rows); the input-shape
    contract says the engine's table is the interleaved docs table,
    synthesized deterministically at scale."""
    from pyspark.sql import functions as F
    from whitebox_tools_spark import derive
    from whitebox_tools_spark.operators import tiling
    from whitebox_tools_spark.operators.pip import tag_polygon
    from whitebox_tools_spark.sources import vectors
    from whitebox_tools_spark.sources.docs import synth_docs

    docs = synth_docs(spark, n_docs, partitions=cores * 2)
    geo = derive.with_geometry(docs, "doc_num")
    tiled = tiling.lidar_tile(geo, min_points=2, extent=None)
    tagged = tag_polygon(tiled, vectors.rect_layer())
    return tagged.groupBy("tile", "poly_fid").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("z").alias("sum_z")
    )


def _time_flagship(
    spark, n_docs: int, cores: int, reps: int = 3, agg: str = "median"
) -> float:
    """Flagship wall time over ``reps`` runs. This sandbox VM shows up to
    4-5x run-to-run variance on IDENTICAL single-threaded numpy work
    (host CPU steal/throttling), so scaling evidence uses agg='min'
    (best-of-N — the standard noisy-neighbour mitigation); the headline
    number uses the median."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        _flagship_synth(spark, n_docs, cores).write.format("noop").mode(
            "overwrite"
        ).save()
        times.append(time.perf_counter() - t0)
    times.sort()
    return times[0] if agg == "min" else times[len(times) // 2]


def _loadavg() -> list[float]:
    """Host 1/5/15-min load — recorded into the JSON so a reader can
    adjudicate noisy-VM windows without rerunning (VERDICT r3 item 9)."""
    try:
        with open("/proc/loadavg") as f:
            return [float(v) for v in f.read().split()[:3]]
    except OSError:
        return []


def _run_suite(
    sf_dir: str,
    cores: int,
    queries: list[str] | None = None,
    n_bench_docs: int | None = None,
) -> dict:
    from whitebox_tools_spark.session import get_spark
    from whitebox_tools_spark import api

    load_start = _loadavg()
    spark = get_spark(cores=cores, shuffle_partitions=cores, app=f"bench-{cores}")
    spark.sparkContext.setLogLevel("ERROR")

    if queries == ["all"]:
        names = list(api.QUERIES)
    elif queries is not None:
        names = queries
    else:
        names = list(api.HEADLINE)
        print(
            f"bench: HEADLINE subset, {len(names)} of {len(api.QUERIES)} "
            "catalog queries (pass --queries all for the full catalog)",
            file=sys.stderr,
        )
    # absorb session warm-up (executor spin-up, first codegen, parquet
    # footer reads) OUTSIDE the per-query timers so the first query's
    # number is comparable to the rest
    spark.read.parquet(f"{sf_dir}/documents.parquet").limit(10).count()
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    per_query: dict[str, float] = {}
    t_all = time.perf_counter()
    for name in names:
        t0 = time.perf_counter()
        df = api.QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        per_query[name] = round(time.perf_counter() - t0, 3)
    total = time.perf_counter() - t_all

    # flagship throughput (docs/sec) over the synth interleaved docs table
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_num = float(sf)
    except ValueError:
        sf_num = 0.1
    n_docs = n_bench_docs or int(
        os.environ.get("SPARK_GRAFT_BENCH_DOCS", int(50_000_000 * sf_num / 0.1))
    )
    flagship_sec = _time_flagship(spark, n_docs, cores)
    # fixed pure-JVM control: a run-to-run drift in THIS number is host
    # noise, not an engine change — recorded so per-round BENCH files are
    # self-describing about the VM's condition
    control_sec = _time_control(spark, cores)

    spark.stop()
    return {
        "total_sec": total,
        "queries": per_query,
        "n_docs": n_docs,
        "flagship_sec": round(flagship_sec, 3),
        "docs_per_sec": round(n_docs / flagship_sec, 1),
        "host": {
            "loadavg_start": load_start,
            "loadavg_end": _loadavg(),
            "control_sec": round(control_sec, 3),
        },
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--scaling", action="store_true", help="run flagship at N and 4N cores")
    ap.add_argument("--scaling-n", type=int, default=8)
    ap.add_argument("--queries", nargs="*", default=None)
    ap.add_argument("--flagship-only", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--n-docs", type=int, default=None, help=argparse.SUPPRESS)
    args = ap.parse_args()

    if args.flagship_only:
        _flagship_only(args.cores, args.n_docs or 200_000_000)
        return

    sf = args.sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    res = _run_suite(args.sf_dir, args.cores, args.queries)

    out = {
        "metric": "headline_suite_wall",
        "value": round(res["total_sec"], 3),
        "unit": "sec",
        "queries": res["queries"],
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_docs": res["n_docs"],
        "flagship_docs_per_sec": res["docs_per_sec"],
        "cores": args.cores,
        "host": res["host"],
    }

    if args.scaling:
        # Each level gets a FRESH process/JVM; levels are run in two
        # INTERLEAVED passes (n, 4n, n, 4n) and the best time per level is
        # kept — this sandbox VM shows multi-x run-to-run noise on
        # identical work (host CPU steal), so single-window comparisons
        # mislead. A pure-JVM embarrassingly-parallel CONTROL job is timed
        # in the same processes: its N->4N efficiency is the VM's actual
        # parallelism ceiling, reported alongside the engine's.
        import subprocess

        n = args.scaling_n
        n_docs = int(os.environ.get("SPARK_GRAFT_SCALING_DOCS", 500_000_000))
        secs: dict[int, float] = {}
        ctrl: dict[int, float] = {}
        for _pass in range(2):
            for cores in (n, 4 * n):
                r = subprocess.run(
                    [
                        sys.executable,
                        os.path.abspath(__file__),
                        "--flagship-only",
                        "--cores",
                        str(cores),
                        "--n-docs",
                        str(n_docs),
                    ],
                    capture_output=True,
                    text=True,
                    check=True,
                )
                f_sec, c_sec = (
                    float(v) for v in r.stdout.strip().splitlines()[-1].split()
                )
                secs[cores] = min(secs.get(cores, 1e18), f_sec)
                ctrl[cores] = min(ctrl.get(cores, 1e18), c_sec)
        eff = (secs[n] / secs[4 * n]) / 4.0
        ctrl_eff = (ctrl[n] / ctrl[4 * n]) / 4.0
        out["scaling"] = {
            "n_cores": n,
            "n_docs": n_docs,
            "docs_per_sec_n": round(n_docs / secs[n], 1),
            "docs_per_sec_4n": round(n_docs / secs[4 * n], 1),
            "efficiency": round(eff, 3),
            "control_efficiency": round(ctrl_eff, 3),
            "efficiency_vs_vm_ceiling": round(eff / ctrl_eff, 3) if ctrl_eff else None,
        }

    os.makedirs(RECORD_DIR, exist_ok=True)
    path = os.path.join(RECORD_DIR, f"bench-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(result_line(out, path))


def _time_control(spark, cores: int, reps: int = 2) -> float:
    """Embarrassingly-parallel pure-JVM control (sin-sum over a range):
    its N->4N ratio measures what parallel speedup this host can give AT
    ALL — the engine's efficiency is judged against this ceiling."""
    from pyspark.sql import functions as F

    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        spark.range(0, 200_000_000, 1, cores * 2).select(
            F.sin(F.col("id").cast("double")).alias("s")
        ).agg(F.sum("s")).collect()
        best = min(best, time.perf_counter() - t0)
    return best


def _flagship_only(cores: int, n_docs: int) -> None:
    from whitebox_tools_spark.session import get_spark

    spark = get_spark(cores=cores, shuffle_partitions=cores, app=f"flag-{cores}")
    spark.sparkContext.setLogLevel("ERROR")
    sec = _time_flagship(spark, n_docs, cores, reps=2, agg="min")
    ctrl = _time_control(spark, cores)
    spark.stop()
    print(sec, ctrl)


if __name__ == "__main__":
    main()
