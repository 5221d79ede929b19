"""Structured Streaming lane for the ingest pipeline.

The engine's operators are declarative column expressions, so the SAME
functions that serve the batch catalog run unchanged on a streaming
DataFrame — `streaming_tile_assign` literally calls
:func:`operators.tiling.assign_tiles` on a `readStream` frame. That is
the Spark-first payoff: one logical plan, two execution modes. At
100 TB the stream source would be Kafka or an object-store drop
directory; here the file source replays the parquet fixtures.

Determinism contract (what makes these oracle-checkable): every
streaming query below is run to completion with ``Trigger.AvailableNow``
into a memory sink and returns the final batch DataFrame, so the result
is a pure function of the input files —

- stateless transforms (tile assign, token stats) emit in append mode,
  row-for-row the batch operator's output;
- the windowed aggregation runs in complete mode (all windows emitted
  at end-of-stream; in production the same query runs in append mode
  and the watermark finalizes windows incrementally — the watermark is
  declared here exactly as it would be there);
- the custom stateful operator (`streaming_session_peaks`) uses
  applyInPandasWithState with a GroupStateTimeout.NoTimeout running
  max/count per key, emitted on stream end — its per-key result is
  arrival-order independent.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid
from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from whitebox_tools_spark import derive
from whitebox_tools_spark.operators import text as tx
from whitebox_tools_spark.operators import tiling


def stream_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source streaming read of a fixture table. The schema comes
    from a driver-side header read (streams must declare schemas up
    front); ``maxFilesPerTrigger`` throttles replay into multiple
    micro-batches when a test wants >1 batch."""
    path = f"{sf_dir}/{name}.parquet"
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # the file stream source requires a directory base path; the fixtures
    # are single files, so read via a glob whose base path is the parent
    return reader.parquet(f"{sf_dir}/{name}.*")


def run_available_now(
    df: DataFrame, name: str = "stream_result", output_mode: str = "append"
) -> DataFrame:
    """Run a streaming frame to completion (Trigger.AvailableNow) into a
    memory sink and return the materialized result as a batch frame
    (localCheckpoint-pinned; the transient memory-sink table and the
    finished checkpoint dir are cleaned up — a PRODUCTION restartable
    stream would instead keep a durable checkpointLocation, which is
    exactly where resume state lives)."""
    qname = f"{name}_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="wts_stream_")
    spark = df.sparkSession
    try:
        query = (
            df.writeStream.format("memory")
            .queryName(qname)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        # pin the rows into executor block storage so the transient
        # memory-sink table can be dropped
        return spark.table(qname).localCheckpoint(eager=True)
    finally:
        # clean up even when a micro-batch throws — otherwise every
        # failing run leaks a driver-resident result table + a /tmp dir
        try:
            spark.catalog.dropTempView(qname)
        except Exception:
            pass
        shutil.rmtree(ckpt, ignore_errors=True)


# ---------------------------------------------------------------- queries


def streaming_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch tile assignment, verbatim, on a stream: derive coordinates
    and assign LidarTile cells as documents arrive. Stateless -> append
    mode; output is row-identical to the batch `tile_assign` query."""
    from whitebox_tools_spark.catalog_core import TILE

    docs = stream_table(spark, sf_dir, "documents")
    # a stream cannot pre-scan its extent (compute_extent collects);
    # pass the derived-coordinate domain (derive._RANGE: x,y in
    # [0, 1000)) — the same grid the batch extent resolves to at every
    # fixture scale, so output stays row-identical to `tile_assign`
    tiles = tiling.assign_tiles(
        derive.with_geometry(docs), extent=(0.0, 1000.0, 0.0, 1000.0), **TILE
    ).select(
        "doc_id", "x", "y", "tile_col", "tile_row", "tile"
    )
    return run_available_now(tiles, "streaming_tile_assign")


def streaming_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics on the ingest stream (stateless)."""
    docs = stream_table(spark, sf_dir, "documents")
    return run_available_now(
        tx.token_counts(docs), "streaming_token_stats"
    )


def streaming_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MULTIMODAL lane on the ingest stream: synth BMP payloads and
    real-decode image quality stats (operators/media.py image_stats)
    run UNCHANGED on the streaming frame — mapInPandas is
    streaming-capable, so the binary-column -> Arrow batch -> numpy
    decode path is one logical plan for both execution modes. Stateless
    (append), hence row-for-row the batch operator's output."""
    from whitebox_tools_spark.operators import media

    docs = stream_table(spark, sf_dir, "documents")
    stats = media.image_stats(media.synth_bmp_media(docs))
    return run_available_now(stats, "streaming_media_stats")


def streaming_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation over the events stream:
    1-hour windows per event_type with count + sum(value). The 10-minute
    watermark bounds state exactly as a production append-mode run
    would; complete output mode emits every window at end-of-stream so
    the result is deterministic and oracle-checkable."""
    # watermarks require TIMESTAMP (instant); the fixture stores
    # TIMESTAMP_NTZ. The session runs UTC (Etc/UTC default in this
    # container), so the cast is wall-clock-preserving and the epoch
    # labels below match a naive-timestamp oracle exactly.
    ev = stream_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).withWatermark("ts", "10 minutes")
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            # epoch seconds, not a timestamp: keeps the oracle hash free
            # of Spark/DuckDB session-timezone string conventions
            F.col("win.start").cast("long").alias("win_start_epoch"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return run_available_now(agg, "streaming_window_counts", "complete")


_SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("peak_value", T.DoubleType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [T.StructField("n", T.LongType()), T.StructField("peak", T.DoubleType())]
)


def _session_peaks_fn(
    key: Tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (n, peak) = state.get if state.exists else (0, float("-inf"))
    for pdf in pdfs:
        n += len(pdf)
        if len(pdf):
            peak = max(peak, float(pdf["value"].max()))
    state.update((n, peak))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "peak_value": [peak]}
    )


_DEDUP_SCHEMA = T.StructType(
    [
        T.StructField("content_hash", T.StringType()),
        T.StructField("doc_id", T.LongType()),
    ]
)

_DEDUP_STATE = T.StructType([T.StructField("min_id", T.LongType())])


def _exact_dedup_fn(
    key: Tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    mn = state.get[0] if state.exists else None
    for pdf in pdfs:
        if len(pdf):
            m = int(pdf["doc_id"].min())
            mn = m if mn is None else min(mn, m)
    state.update((mn,))
    yield pd.DataFrame({"content_hash": [key[0]], "doc_id": [mn]})


def streaming_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup with the batch :func:`text.exact_dedup`
    semantics (keep the min record id per exact-content md5 group) as a
    custom stateful operator: state per content hash = smallest doc_id
    seen so far, updated per micro-batch. This is the deterministic
    'stateful equivalent' of ``dropDuplicatesWithinWatermark`` — the
    built-in keeps an ARBITRARY first-arrival survivor (fine in
    production, not oracle-checkable), whereas min-id is arrival-order
    independent, so the batch row's oracle applies verbatim. Update mode
    emits the running min per key per batch; the memory-sink replay is
    collapsed to the final state with one min() per key."""
    docs = stream_table(spark, sf_dir, "documents").select(
        F.md5(F.col("text")).alias("content_hash"), "doc_id"
    )
    out = docs.groupBy("content_hash").applyInPandasWithState(
        _exact_dedup_fn,
        outputStructType=_DEDUP_SCHEMA,
        stateStructType=_DEDUP_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    updates = run_available_now(out, "streaming_exact_dedup", "update")
    return updates.groupBy("content_hash").agg(F.min("doc_id").alias("doc_id"))


def streaming_session_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): a
    running per-user event count + peak value, the shape of a live
    sessionizer. Update mode emits the latest state per key per batch;
    the memory sink keeps every update, so the final state per user is
    the row with the maximal n_events — a deterministic,
    arrival-order-independent reduction the test (and an oracle) can
    select with one window."""
    ev = stream_table(spark, sf_dir, "events").select("user_id", "value")
    out = ev.groupBy("user_id").applyInPandasWithState(
        _session_peaks_fn,
        outputStructType=_SESSION_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    updates = run_available_now(out, "streaming_session_peaks", "update")
    # final state per user = the update with the largest n_events
    return (
        updates.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("peak_value").alias("peak_value"),
        )
    )
