"""Seeded benchmark of the spatial-join and tiling engine.

    python3 perfbench/run.py --workload docs_overlay --seed 1 --seconds 6 --trace 0

Run from the repository root. One process, one SparkSession on
``local[nproc]``, one client running one pass at a time (closed loop).
The run generates its inputs from ``--seed``, warms up, repeats passes
of the workload for ``--seconds``, checks the last pass's outputs
against an independent DuckDB/numpy computation, and prints one JSON
line: end-to-end metrics with ``--trace 0``, per-layer metrics from a
separate traced measurement with ``--trace 1``. A fuller record (host
noise, input properties, every pass, spans) goes to
``.bench_build/perfbench/records/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
import warnings

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DRIVER_MEMORY = "4g"

END_TO_END = {"setup_s": "s", "wall_s": "s", "docs_per_s": "docs/s", "cpu_s": "s"}


def _pin_environment(work: str) -> int:
    """Keep every file Spark, Python workers and DuckDB write inside the
    checkout, and let Python workers import the engine."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path[:0] = [ROOT, HERE]
    return cores


def _start_spark(cores: int, work: str, master_cores: int | None = None):
    from whitebox_tools_spark.session import get_spark

    n = master_cores or cores
    spark = get_spark(
        cores=n,
        shuffle_partitions=n,
        app=f"perfbench-{n}",
        driver_memory=DRIVER_MEMORY,
        extra={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    spark.range(0, 100_000, 1, n).selectExpr("sum(id)").collect()
    return spark, time.perf_counter() - t0


def _passes(wl, seconds: float, traced: bool, run_id: str, log: list):
    """Run passes until ``seconds`` have elapsed (at least one). Returns
    (walls and CPU seconds of successful passes, attempted, failed,
    tracers)."""
    from host import tree_cpu_s
    from spans import Tracer

    walls, cpus, tracers, attempted, failed = [], [], [], 0, 0
    end = time.perf_counter() + seconds
    while True:
        attempted += 1
        tr = Tracer(wl.spark, f"{run_id}-{attempted}", traced)
        try:
            with warnings.catch_warnings():
                # a fixpoint loop that ran out of rounds fails the pass
                warnings.filterwarnings("error", message=".*not converged", category=RuntimeWarning)
                cpu0 = tree_cpu_s(os.getpid())
                with tr.span("pass") as root:
                    wl.run(tr)
                cpus.append(tree_cpu_s(os.getpid()) - cpu0)
            walls.append(root.end - root.start)
            tracers.append(tr)
        except Exception:  # noqa: BLE001 - a failed pass is counted, not fatal
            failed += 1
            log.append(traceback.format_exc(limit=3))
            traceback.print_exc(file=sys.stderr)
        if time.perf_counter() >= end:
            return walls, cpus, attempted, failed, tracers


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for the JVM (and with it
    the Python workers it forked) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _docs_per_s(wl, tracers: list) -> float:
    """Median over passes of the workload's docs ÷ the wall of the span
    around the job that reads them."""
    return _median([wl.n_docs / (s.end - s.start) for tr in tracers for s in tr.spans
                    if s.name == wl.DOCS_SPAN])


def _per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def _layer_metrics(wl, tracers: list, untraced: list[float], names) -> dict:
    per_pass = [wl.layers(tr.spans) for tr in tracers]
    traced = [sum(s.end - s.start for s in tr.spans if s.name == "pass") for tr in tracers]
    out = {n: 0.0 for n in names}
    for key in per_pass[0] if per_pass else []:
        out[key] = _median([p[key] for p in per_pass])
    out.update(wl.facts())
    root_self = [tr.self_time(next(s for s in tr.spans if s.name == "pass")) for tr in tracers]
    out["pass.self_s"] = _median(root_self)
    out["trace.traced_wall_s"] = _median(traced)
    out["trace.untraced_wall_s"] = _median(untraced)
    out["trace.overhead_s"] = _median(traced) - _median(untraced)
    for k, v in wl.props.items():
        if f"input.{k}" in out:
            out[f"input.{k}"] = v
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "whitebox_tools_spark", "__init__.py")):
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    cores = _pin_environment(work)

    import checks
    import host
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    load_start, cpu_start = host.loadavg(), host.cpu_times()
    con = checks.connect(os.path.join(work, "tmp"))
    spark, warmup_s = _start_spark(cores, work)
    setup_s = host.process_age()
    jvm_pid = spark.sparkContext._gateway.proc.pid
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    log: list[str] = []
    try:
        cls = workloads.WORKLOADS[args.workload]
        wl = cls(spark, cores, args.seed, work, con)
        phases = {"setup": setup_s}
        t = time.perf_counter()
        wl.prepare()
        phases["prepare"] = time.perf_counter() - t
        # warm-up: the first pass pays JIT, codegen and Python worker start
        t = time.perf_counter()
        wl.warm(lambda: _passes(wl, 0.0, False, run_id + "-warm", log))
        if args.trace:
            # one more untimed full pass, so that neither the untraced nor the
            # traced passes below are the first pass on the full inputs
            _passes(wl, 0.0, False, run_id + "-warm", log)
        phases["warm"] = time.perf_counter() - t
        log.clear()
        t = time.perf_counter()
        if args.trace:
            untraced, _, u_attempted, u_failed, _ = _passes(
                wl, args.seconds / 2, False, run_id, log)
            walls, cpus, attempted, failed, tracers = _passes(
                wl, args.seconds / 2, True, run_id, log)
            attempted, failed = attempted + u_attempted, failed + u_failed
        else:
            walls, cpus, attempted, failed, tracers = _passes(
                wl, args.seconds, False, run_id, log)
        phases["measure"] = time.perf_counter() - t
        t = time.perf_counter()
        mismatch = wl.check() if walls else -1
        phases["check"] = time.perf_counter() - t
        control_s = host.control_job(spark, cores)
        peak = host.peak_rss_mb(jvm_pid)
        steal = host.steal_frac(cpu_start, host.cpu_times())
        wall = _median(walls)
        if args.trace:
            units = _per_layer_units()
            metrics = _layer_metrics(wl, tracers, untraced, units)
            metrics.update({"session.warmup_s": warmup_s, "host.control_s": control_s,
                            "host.steal_frac": steal, "host.peak_rss_mb": peak})
            if args.workload == "docs_overlay":
                metrics.update(_scaling(wl, cores, work, _median(untraced), control_s))
                spark = wl.spark
        else:
            metrics = {"setup_s": setup_s, "wall_s": wall,
                       "docs_per_s": _docs_per_s(wl, tracers), "cpu_s": _median(cpus)}
            units = END_TO_END
        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "seconds": args.seconds, "cores": cores, "driver_memory": DRIVER_MEMORY,
            "metrics": metrics, "pass_walls_s": walls, "pass_cpu_s": cpus,
            "docs_job_walls_s": [s.end - s.start for tr in tracers for s in tr.spans
                                 if s.name == wl.DOCS_SPAN],
            "attempted": attempted,
            "failed": failed, "mismatch_rows": mismatch, "inputs": wl.props,
            "host": {"loadavg_start": load_start, "loadavg_end": host.loadavg(),
                     "steal_frac": steal, "control_s": control_s, "setup_s": setup_s,
                     "session_warmup_s": warmup_s, "peak_rss_mb": peak},
            "phases_s": phases, "errors": log,
            "spans": [tr.records() for tr in tracers] if args.trace else [],
        }
    finally:
        con.close()
        _stop(spark)
        workloads.clean(work)
    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    with open(os.path.join(BUILD, "records", f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=float)
    correct = mismatch == 0
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items() if k in units},
    }))
    return 0 if correct else 1


def _scaling(wl, cores: int, work: str, wall_n: float, control_n: float) -> dict:
    """Scaling efficiency of the flagship pass, (T_1 / T_n) / n, beside
    the same ratio for the pure-JVM control job. Restarts the session on
    ``local[1]`` in the same JVM and keeps it on ``wl.spark``."""
    import host

    wl.spark.stop()
    spark, _ = _start_spark(cores, work, master_cores=1)
    wl.spark = spark
    walls = _passes(wl, 0.0, False, "scaling", [])[0]
    control_1 = host.control_job(spark, 1)
    return {
        "scaling_eff": (walls[0] / wall_n) / cores if walls and wall_n else 0.0,
        "scaling_eff_control": (control_1 / control_n) / cores,
    }


if __name__ == "__main__":
    sys.exit(main())
