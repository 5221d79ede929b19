#!/usr/bin/env python
"""Replicates the driver's correctness gate at a chosen SF, in parallel:
runs every __spark_entry__.queries() entry against its oracle_sql() via
DuckDB (column names + order-insensitive canonical values) using a
thread pool over one Spark session (Spark schedules concurrent jobs
fine; each worker gets its own DuckDB connection).

Usage: python scripts/verify_contract.py [sf_dir] [threads] [name_filter]
Prints one line per query, a "BAD: [...]" summary, a
"NOT-CONVERGED: [...]" line naming every fixpoint loop (``graph.ROUNDS``)
that ran out of rounds, and a final print-only "HUGE-METHOD: [...]" line
of (query, bytes) for every query with a whole-stage codegen method above
HotSpot's 8000-byte JIT limit (``session.huge_stages``): the stages that
``session.get_spark`` runs per operator. Method size does not depend on
the codegen limit, so the probe reads it under this script's plain
session, where parity is checked.
"""

from __future__ import annotations

import math
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as m  # noqa: E402
from pyspark.sql import SparkSession

from whitebox_tools_spark.api import ROWS_ONLY  # noqa: E402
from whitebox_tools_spark.operators import graph  # noqa: E402
from whitebox_tools_spark.session import huge_stages  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
THREADS = int(sys.argv[2]) if len(sys.argv) > 2 else 4
FILT = sys.argv[3] if len(sys.argv) > 3 else ""

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(v):
    if v is None:
        return (0, 0)
    if isinstance(v, float):
        return (1, 0) if math.isnan(v) else (2, float(v))
    if isinstance(v, (bool, int)):
        return (2, float(v))
    return (3, str(v))


def main():
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "6g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    print("entry rows:", len(m.entry(spark).collect()), flush=True)

    qs, osql = m.queries(), m.oracle_sql()
    import re as _re

    names = [n for n in qs if _re.search(FILT, n)] if FILT else list(qs)
    bad = []
    huge = []

    def run(name):
        t0 = time.time()
        try:
            sdf = qs[name](spark, SF)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
            huge.extend((name, size) for _, size in huge_stages(sdf))
            if name not in osql:
                return name, f"rows-only {len(srows)}", time.time() - t0
            con = duckdb.connect()
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
                )
            res = con.execute(osql[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            con.close()
            so = sorted(range(len(scols)), key=lambda i: scols[i])
            do = sorted(range(len(dcols)), key=lambda i: dcols[i])
            s = sorted(tuple(canon(r[i]) for i in so) for r in srows)
            d = sorted(tuple(canon(r[i]) for i in do) for r in drows)
            ok = sorted(scols) == sorted(dcols) and s == d
            return name, ("OK" if ok else f"MISMATCH {len(srows)}/{len(drows)}"), time.time() - t0
        except Exception as e:  # noqa: BLE001
            return name, f"ERROR {type(e).__name__} {str(e)[:160]}", time.time() - t0

    with ThreadPoolExecutor(THREADS) as ex:
        for name, msg, dt in ex.map(run, names):
            if msg != "OK":
                bad.append((name, msg))
            print(f"{name}: {msg} ({dt:.1f}s)", flush=True)
    rows_only = [n for n, msg in bad if "rows-only" in msg]
    # a name missing from ORACLE_SQL without a declared ROWS_ONLY reason
    # is a forgotten oracle registration — a real failure, not an exemption
    unexpected = [n for n in rows_only if n not in ROWS_ONLY]
    if rows_only:
        print("ROWS-ONLY:", rows_only, flush=True)
    failures = [n for n, msg in bad if "rows-only" not in msg] + unexpected
    print("BAD:", failures, flush=True)
    print("NOT-CONVERGED:", [n for n, _, done in graph.ROUNDS if not done], flush=True)
    print("HUGE-METHOD:", sorted(huge), flush=True)
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
