"""Table catalog over the driver-generated parquet directories.

Loads the TPC-H-ish star schema + events/documents/embeddings tables
(TESTDATA.md) as DataFrames.  All scans are plain ``spark.read.parquet`` so
Catalyst keeps predicate pushdown / column pruning / partition pruning —
at 100 TB these scans become multi-file distributed reads with no code
change.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafkastreamsjavachallenge_spark.session import configure_runtime

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Ingest-time layout repair (auto-OPTIMIZE): a parquet input whose row-group
# count is far below the available parallelism serializes every scan — one
# task per row group, however many cores exist.  Tables above this row
# threshold are rewritten ONCE per process into a spark-parallelism-matched
# multi-file copy under a session temp dir; every later scan of the table is
# fully parallel.  This is the standard big-data ingest step (compaction /
# OPTIMIZE), applied in the opposite direction: splitting an unsplittable
# monolith instead of merging small files (sources/writers.py `compact`).
_RELAYOUT_MIN_ROWS = 100_000
_relayout_cache: dict[tuple[str, str], str] = {}
_relayout_dir: str | None = None


def _maybe_relayout(spark: SparkSession, path: str, name: str, df: DataFrame) -> DataFrame:
    global _relayout_dir
    key = (path, name)
    cached = _relayout_cache.get(key)
    if cached is not None:
        return spark.read.parquet(cached) if cached else df
    try:
        import pyarrow.parquet as pq

        meta = pq.ParquetFile(path).metadata
        rows, groups = meta.num_rows, meta.num_row_groups
    except Exception:
        _relayout_cache[key] = ""
        return df
    par = spark.sparkContext.defaultParallelism
    if rows < _RELAYOUT_MIN_ROWS or groups >= par // 2:
        _relayout_cache[key] = ""
        return df
    if _relayout_dir is None:
        _relayout_dir = tempfile.mkdtemp(prefix="engine_relayout_")
    out = os.path.join(_relayout_dir, f"{abs(hash(path))}_{name}")
    n = max(2, min(par, rows // 20_000 + 1))
    df.repartition(n).write.mode("overwrite").parquet(out)
    _relayout_cache[key] = out
    return spark.read.parquet(out)


def normalize_event_time(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """The one reading of a physical event-time column as TimestampType.

    events.ts has shipped in two physical forms across testdata
    generations: parquet TIMESTAMP(NANOS) read as long nanos (see
    session._RUNTIME_CONFS nanosAsLong; convert with integer division so
    the truncation to microseconds matches DuckDB's read of the same
    file) and TIMESTAMP(MICROS) without a UTC annotation, which Spark 4
    reads as TIMESTAMP_NTZ.  Both normalize to TimestampType: the session
    timezone is pinned UTC (configure_runtime), so the NTZ cast is
    value-preserving vs the oracle's naive read, and downstream
    event-time code (withWatermark, unix_micros) requires TimestampType.
    Works on batch and streaming frames alike; other types pass through.
    """
    ts_type = dict(df.dtypes).get(ts_col)
    if ts_type == "bigint":
        return df.withColumn(ts_col, F.expr(f"timestamp_micros(`{ts_col}` div 1000)"))
    if ts_type == "timestamp_ntz":
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table; events.ts goes through ``normalize_event_time``.

    Large single-row-group inputs are transparently re-laid-out once per
    process (see _maybe_relayout).
    """
    configure_runtime(spark)
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    if name == "events":
        df = normalize_event_time(df)
    return _maybe_relayout(spark, path, name, df)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every table in the scale-factor directory."""
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register temp views so queries can also be issued via spark.sql."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
