"""Streaming sinks beyond the Kafka producer (sources/kafka.py write_counts
covers S2, UniqueUsersApp.java:133): parquet files and the foreachBatch
escape hatch for sinks Spark has no native writer for; the memory drain
lives in streaming/pipeline.py.  Every sink starts through ``_start``.

Scale notes:
- The file sink is exactly-once per partition via the sink log; partition
  the output by a low-cardinality time-derived column so downstream scans
  partition-prune (never by a high-cardinality key — small-files blowup).
- foreachBatch gets a *batch* DataFrame: anything legal in batch (merge,
  jdbc, multi-sink fan-out) works, at-least-once unless the target is
  idempotent on (batch_id, key).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery


def _start(spark: SparkSession, writer: DataStreamWriter) -> StreamingQuery:
    """Start a streaming query with ``max(8, defaultParallelism)`` state
    partitions — one state store per core.

    A query's state partitioning is pinned by its first checkpoint and
    every micro-batch pays a fixed per-partition state-store commit, so it
    must not inherit whatever relational shuffle setting is live (a
    vanilla session's 200 means 200 commits per batch for tiny state).
    The query clones its session inside ``start()``, so the conf is
    restored as soon as ``start()`` returns."""
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    spark.conf.set(key, str(max(8, spark.sparkContext.defaultParallelism)))
    try:
        return writer.start()
    finally:
        spark.conf.set(key, saved)


def to_parquet_files(
    result: DataFrame,
    path: str,
    checkpoint: str,
    partition_by: list[str] | None = None,
    output_mode: str = "append",
    available_now: bool = True,
):
    """File sink: append-mode parquet with optional partition columns."""
    w = (
        result.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    if available_now:
        w = w.trigger(availableNow=True)
    return _start(result.sparkSession, w)


def for_each_batch(
    result: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint: str,
    output_mode: str = "update",
    available_now: bool = True,
):
    """foreachBatch sink: ``fn(batch_df, batch_id)`` per micro-batch."""
    w = (
        result.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return _start(result.sparkSession, w)
