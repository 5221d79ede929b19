"""Query catalog: Structured Streaming lane (streaming/pipeline.py).

Each query replays a parquet fixture table through ``readStream`` with
``Trigger.AvailableNow`` into a memory sink, so the result is a pure
function of the input files and every row is DuckDB-oracle checkable:

- ``streaming_tile_assign`` — the batch LidarTile assignment
  (operators/tiling.py, lidar_tile.rs:257-282) running verbatim on the
  document ingest stream (stateless, append mode);
- ``streaming_token_stats`` — per-document token statistics on the
  stream (stateless, append mode; same oracle as the batch row);
- ``streaming_window_counts`` — watermarked 1-hour tumbling-window
  count + sum per event_type over the events stream (the canonical
  late-data windowed aggregation);
- ``streaming_session_peaks`` — custom stateful operator via
  applyInPandasWithState: running per-user event count + peak value
  (a live sessionizer); the final per-key state is an arrival-order
  independent (count, max) reduction, so plain SQL is its oracle.
- ``streaming_exact_dedup`` — streaming corpus dedup with the batch
  ``text.exact_dedup`` min-id survivor semantics as stateful state
  (the deterministic equivalent of ``dropDuplicatesWithinWatermark``);
  same oracle as the batch row.

Window starts are emitted as epoch seconds (BIGINT) so Spark/DuckDB
timestamp session-zone conventions can't skew the value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from whitebox_tools_spark import catalog_docs as _docs
from whitebox_tools_spark import derive
from whitebox_tools_spark.streaming import pipeline as sp

_GEO_SQL = derive.sql_geometry_select("doc_id")


def q_streaming_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sp.streaming_tile_assign(spark, sf_dir)


def q_streaming_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sp.streaming_token_stats(spark, sf_dir)


def q_streaming_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sp.streaming_window_counts(spark, sf_dir)


def q_streaming_session_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sp.streaming_session_peaks(spark, sf_dir)


def q_streaming_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sp.streaming_exact_dedup(spark, sf_dir)


def q_streaming_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode on the stream: synth BMP payloads + real image
    quality stats via mapInPandas on a readStream frame (stateless —
    row-for-row the batch image_stats output, same oracle)."""
    return sp.streaming_media_stats(spark, sf_dir)


QUERIES = {
    "streaming_tile_assign": q_streaming_tile_assign,
    "streaming_token_stats": q_streaming_token_stats,
    "streaming_window_counts": q_streaming_window_counts,
    "streaming_session_peaks": q_streaming_session_peaks,
    "streaming_exact_dedup": q_streaming_exact_dedup,
    "streaming_media_stats": q_streaming_media_stats,
}

HEADLINE = (
    "streaming_window_counts", "streaming_session_peaks", "streaming_exact_dedup",
    "streaming_media_stats",
)

# The streaming tile grid is pinned to the derived-coordinate domain
# (derive._RANGE: x,y in [0, 1000), tile 250x250 => 4 cols), because a
# stream cannot pre-scan its extent; the oracle uses the same fixed grid.
ORACLE_SQL = {
    "streaming_tile_assign": f"""
WITH pts AS (SELECT doc_id, {_GEO_SQL} FROM documents)
SELECT doc_id, x, y,
       CAST(floor(x / 250.0) AS BIGINT) AS tile_col,
       CAST(floor(y / 250.0) AS BIGINT) AS tile_row,
       CAST(floor(y / 250.0) * 4 + floor(x / 250.0) AS BIGINT) AS tile
FROM pts
""",
    "streaming_token_stats": _docs.ORACLE_SQL["token_stats"],
    "streaming_window_counts": """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS win_start_epoch,
       event_type,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value
FROM events
GROUP BY 1, 2
""",
    "streaming_session_peaks": """
SELECT user_id,
       count(*) AS n_events,
       max(value) AS peak_value
FROM events
GROUP BY user_id
""",
    # min-id survivor semantics are arrival-order independent, so the
    # batch exact_dedup oracle applies verbatim
    "streaming_exact_dedup": _docs.ORACLE_SQL["exact_dedup"],
    "streaming_media_stats": _docs.ORACLE_SQL["image_stats"],
}
