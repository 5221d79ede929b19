"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[N]``; the same config block is what we
would ship to a multi-executor cluster via spark-submit (AQE, skew join,
Arrow all apply unchanged there).

Whole-stage codegen is capped at HotSpot's huge-method limit. HotSpot
never JIT-compiles a method above 8000 bytes of bytecode
(``-XX:+DontCompileHugeMethods``, on by default), so a fused stage whose
largest generated method is bigger runs interpreted for its whole life.
Spark's own default cap (``spark.sql.codegen.hugeMethodLimit``, 65535)
is the JVM's hard class-file limit, so it never falls back before that.
With the cap at 8000, such a stage runs per operator instead: each
operator's projection is generated in split methods small enough to JIT.
The unrolled point-in-polygon fold (``operators.pip``) is the stage that
crosses it on the flagship job: fused with a parquet scan of the docs
table and the tile semi-join, the 20-vertex rectangle layer's tag makes a
9074-byte method. Stages under the cap are compiled exactly as before.
``huge_stages`` names the stages a frame would run per operator;
``scripts/verify_contract.py`` lists the catalog queries that have one.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

# HotSpot's ``HugeMethodLimit``: the largest method, in bytes of bytecode,
# that it will JIT-compile. Also the value Spark's documentation of
# spark.sql.codegen.hugeMethodLimit recommends on HotSpot.
HUGE_METHOD_LIMIT = 8000
# what ``huge_stages`` reports for a stage whose code does not compile at
# all: some method is past the class-file limit of 65535 bytes
UNCOMPILABLE = 65536


def get_spark(
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    app: str = "whitebox_tools_spark",
    driver_memory: str | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    AQE + skew-join splitting are always on: the cell-id shuffle of the
    spatial joins is the engine's skew hot spot (hot cells), and AQE's
    runtime re-plan is the first line of defence (explicit salting in
    ``operators.cells`` is the second).
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    driver_memory = driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.codegen.hugeMethodLimit", str(HUGE_METHOD_LIMIT))
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _plan_nodes(plan):
    """Physical plan nodes, descending through the adaptive wrapper and
    its query stages."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(plan.executedPlan())
        return
    if name.endswith("QueryStageExec"):
        yield from _plan_nodes(plan.plan())
        return
    yield plan
    children = plan.children().iterator()
    while children.hasNext():
        yield from _plan_nodes(children.next())


def huge_stages(df: DataFrame) -> list[tuple[int, int]]:
    """``(codegen_stage_id, max_method_bytes)`` of every whole-stage
    codegen subtree of ``df`` whose largest generated method is above
    ``HUGE_METHOD_LIMIT``: the stages that run per operator under
    ``get_spark``'s cap (and interpreted without it).

    Each stage's code is generated and compiled on the driver; nothing is
    executed. A stage that does not compile at all is reported at
    ``UNCOMPILABLE`` bytes (Spark runs it per operator too). An executed
    frame is read through its final adaptive plan. A frame not yet
    executed is laid out without adaptive execution, which forms the same
    fused subtrees between its exchanges."""
    jvm = df.sparkSession._jvm
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec" and not plan.isFinalPlan():
        plan = jvm.org.apache.spark.sql.execution.QueryExecution.prepareExecutedPlan(
            df.sparkSession._jsparkSession, qe.sparkPlan()
        )
    compile_ = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compile
    out = []
    for node in _plan_nodes(plan):
        if node.getClass().getSimpleName() == "WholeStageCodegenExec":
            try:
                size = compile_(node.doCodeGen()._2())._2().maxMethodCodeSize()
            except Py4JJavaError:
                size = UNCOMPILABLE
            if size > HUGE_METHOD_LIMIT:
                out.append((node.codegenStageId(), size))
    return out
