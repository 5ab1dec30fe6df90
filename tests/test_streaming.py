"""Streaming parity tests (SURVEY.md §5.2): multi-batch micro-batch
execution must converge to the batch result; update vs append emission
semantics mirror SURVEY.md §1.3.2."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kafkastreamsjavachallenge_spark.catalog import load_table
from kafkastreamsjavachallenge_spark.operators.windows import unique_users
from kafkastreamsjavachallenge_spark.streaming.pipeline import (
    file_stream,
    run_to_memory,
    streaming_unique_users,
)

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def event_files(spark, tmp_path_factory):
    """events split into 4 parquet files ordered by time — so micro-batches
    arrive roughly in event-time order and the watermark advances between
    batches (late rows within a batch still exercise out-of-order paths)."""
    d = str(tmp_path_factory.mktemp("event_stream"))
    ev = load_table(spark, SF_DIR, "events").orderBy("ts")
    n = ev.count()
    pdf = ev.toPandas()
    import pyarrow as pa
    import pyarrow.parquet as pq

    chunk = (n + 3) // 4
    for i in range(4):
        part = pdf.iloc[i * chunk : (i + 1) * chunk]
        pq.write_table(
            pa.Table.from_pandas(part),
            os.path.join(d, f"f{i}.parquet"),
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
    return d, ev


@pytest.fixture(scope="module")
def repeat_uid_files(spark, tmp_path_factory):
    """Three micro-batches in which a uid repeats across batches inside
    one window (u1 again in window 00:00 must add no count); strictly
    increasing mtimes keep the batches in event-time order."""
    import datetime as dt
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path_factory.mktemp("repeat_uid"))
    base = dt.datetime(2024, 1, 1)
    batches = [
        [(0, "u1"), (10, "u2"), (70, "u1")],
        [(20, "u1"), (30, "u3"), (80, "u1")],
        [(40, "u4"), (130, "u9")],
    ]
    rows = []
    now = time.time()
    for i, batch in enumerate(batches):
        ts = [base + dt.timedelta(seconds=sec) for sec, _ in batch]
        rows += list(zip(ts, [u for _, u in batch]))
        path = os.path.join(d, f"b{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array(ts, pa.timestamp("us")),
                    "user_id": pa.array([u for _, u in batch]),
                }
            ),
            path,
        )
        os.utime(path, (now + i, now + i))
    return d, spark.createDataFrame(rows, "ts TIMESTAMP, user_id STRING")


@pytest.mark.parametrize("files", ["event_files", "repeat_uid_files"])
def test_multibatch_update_converges_to_batch(spark, request, files):
    d, ev = request.getfixturevalue(files)
    stream = file_stream(spark, d, ev.schema, max_files_per_trigger=1)
    result = streaming_unique_users(stream, "ts", "user_id", "1 minute", "1 minute")
    table = run_to_memory(result, output_mode="update")
    final = table.groupBy("window_start").agg(
        F.max("unique_users").alias("unique_users")
    )
    got = {r["window_start"]: r["unique_users"] for r in final.collect()}
    want = {
        r["window_start"]: r["unique_users"]
        for r in unique_users(ev, "ts", "user_id").collect()
    }
    assert got == want and want


def test_multibatch_append_emits_closed_windows_only(spark, event_files):
    """Append mode = the suppression the reference wanted (X1): emitted
    windows are exactly those the watermark closed, each with its final
    count; the tail stays open."""
    d, ev = event_files
    stream = file_stream(spark, d, ev.schema, max_files_per_trigger=1)
    result = streaming_unique_users(stream, "ts", "user_id", "1 minute", "1 minute")
    table = run_to_memory(result, output_mode="append")
    got = {r["window_start"]: r["unique_users"] for r in table.collect()}
    want = {
        r["window_start"]: r["unique_users"]
        for r in unique_users(ev, "ts", "user_id").collect()
    }
    assert 0 < len(got) <= len(want)
    # every emitted window is final-correct; no window emitted twice
    assert all(want[w] == n for w, n in got.items())
    # un-emitted windows are only at the (still-open) tail of event time
    open_windows = sorted(set(want) - set(got))
    assert all(w > max(got) for w in open_windows)


def test_state_store_count_ignores_session_shuffle_conf(
    spark, event_files, tmp_path
):
    """State sizing rule: a vanilla session's 200 shuffle partitions must
    NOT leak into streaming state (200 state-store commits per micro-batch
    for tiny state).  The checkpoint's state/0/<p> dirs are the physical
    store count — expect max(8, defaultParallelism) of them, and the
    session conf restored afterwards."""
    d, ev = event_files
    conf_key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(conf_key)
    spark.conf.set(conf_key, "200")
    ckpt = str(tmp_path / "auto_state_ckpt")
    try:
        stream = file_stream(spark, d, ev.schema)
        result = streaming_unique_users(stream, "ts", "user_id", "1 minute")
        table = run_to_memory(result, output_mode="update", checkpoint=ckpt)
        assert table.count() > 0
        assert spark.conf.get(conf_key) == "200"  # restored
        expected = max(8, spark.sparkContext.defaultParallelism)
        state0 = os.path.join(ckpt, "state", "0")
        parts = [p for p in os.listdir(state0) if p.isdigit()]
        assert len(parts) == expected, (
            f"state stores {len(parts)} != rule-derived {expected}"
        )
    finally:
        spark.conf.set(conf_key, saved)


def test_stream_stream_join_matches_batch(spark, event_files):
    """Watermarked interval stream-stream join over two event streams
    equals the equivalent batch interval join."""
    from kafkastreamsjavachallenge_spark.streaming.pipeline import stream_stream_join

    d, ev = event_files
    left = file_stream(spark, d, ev.schema, max_files_per_trigger=2).select(
        F.col("event_id").alias("l_id"),
        F.col("user_id").alias("l_uid"),
        F.col("ts").alias("l_ts"),
    )
    right = file_stream(spark, d, ev.schema, max_files_per_trigger=2).select(
        F.col("event_id").alias("r_id"),
        F.col("user_id").alias("r_uid"),
        F.col("ts").alias("r_ts"),
    )
    joined = stream_stream_join(
        left, right,
        on=(F.col("l_uid") == F.col("r_uid")) & (F.col("l_id") < F.col("r_id")),
        left_ts="l_ts", right_ts="r_ts",
        watermark="2 hours", interval="1 hour",
    )
    got = run_to_memory(joined, output_mode="append").count()

    l = ev.select(F.col("event_id").alias("l_id"), F.col("user_id").alias("l_uid"), F.col("ts").alias("l_ts"))
    r = ev.select(F.col("event_id").alias("r_id"), F.col("user_id").alias("r_uid"), F.col("ts").alias("r_ts"))
    want = l.join(
        r,
        (F.col("l_uid") == F.col("r_uid")) & (F.col("l_id") < F.col("r_id"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 1 HOUR")),
    ).count()
    assert got == want and got > 0


def test_parquet_sink_roundtrip(spark, event_files, tmp_path):
    """File sink: windowed counts stream out to parquet, read back equal."""
    from kafkastreamsjavachallenge_spark.operators.windows import windowed_count
    from kafkastreamsjavachallenge_spark.streaming.sinks import to_parquet_files

    d, ev = event_files
    stream = file_stream(spark, d, ev.schema, max_files_per_trigger=2)
    result = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 minute").alias("window"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), "n")
    )
    out = str(tmp_path / "out")
    q = to_parquet_files(result, out, str(tmp_path / "ckpt"))
    q.awaitTermination()
    back = {r["window_start"]: r["n"] for r in spark.read.parquet(out).collect()}
    want = {
        r["window_start"]: r["n"]
        for r in windowed_count(ev, "ts", "1 minute").collect()
    }
    # append mode emits only watermark-closed windows; all emitted are final
    assert back and all(want[w] == n for w, n in back.items())


def test_foreach_batch_sink(spark, event_files, tmp_path):
    from kafkastreamsjavachallenge_spark.streaming.sinks import for_each_batch

    d, ev = event_files
    stream = file_stream(spark, d, ev.schema, max_files_per_trigger=2)
    seen = []
    q = for_each_batch(
        stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")),
        lambda bdf, bid: seen.append((bid, {r["event_type"]: r["n"] for r in bdf.collect()})),
        str(tmp_path / "ckpt_feb"),
        output_mode="complete",
    )
    q.awaitTermination()
    assert seen
    final = seen[-1][1]
    want = {r["event_type"]: r["n"] for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert final == want


def test_checkpoint_recovery_no_duplicates(spark, event_files, tmp_path):
    """Kill-and-restart from the same checkpoint: the restarted query
    resumes from the offset log and the final state equals a single
    uninterrupted run — no double counting (exactly-once state updates).
    Memory sinks cannot recover, so the sink is foreachBatch (the
    checkpoint-compatible escape hatch)."""
    import time as _t

    d, ev = event_files
    ckpt = str(tmp_path / "ckpt_recover")
    emitted: list[tuple] = []

    def start():
        stream = file_stream(spark, d, ev.schema, max_files_per_trigger=1)
        result = streaming_unique_users(stream, "ts", "user_id", "1 minute", "1 minute")
        return (
            result.writeStream.foreachBatch(
                lambda bdf, bid: emitted.extend(
                    (r["window_start"], r["unique_users"]) for r in bdf.collect()
                )
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    # run 1: process at least one micro-batch, then stop mid-stream
    q1 = start()
    while not q1.recentProgress:
        _t.sleep(0.2)
    q1.stop()
    q1.awaitTermination()

    # run 2: resume from checkpoint, drain the rest
    q2 = start()
    q2.awaitTermination()

    got: dict = {}
    for w, n in emitted:
        got[w] = max(got.get(w, 0), n)
    want = {
        r["window_start"]: r["unique_users"]
        for r in unique_users(ev, "ts", "user_id").collect()
    }
    assert got == want


def test_flagship_on_rocksdb_state_store(spark, event_files, tmp_path):
    """The flagship streaming topology on the RocksDB state-store provider
    (the bounded-memory backend for 100 TB state; the reference used a
    RocksDB window store, UniqueUsersApp.java:101-110) — results identical
    to the default provider.  providerClass is a runtime SQL conf picked up
    at query start, so it is set and restored on the shared session
    (a second getOrCreate'd session would share the context and stopping
    it would tear down the default session for later tests)."""
    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = ("org.apache.spark.sql.execution.streaming.state."
             "RocksDBStateStoreProvider")
    d, ev = event_files
    saved = spark.conf.get(key, None)
    spark.conf.set(key, rocks)
    try:
        stream = file_stream(spark, d, ev.schema, max_files_per_trigger=2)
        result = streaming_unique_users(stream, "ts", "user_id", "1 minute", "1 minute")
        table = run_to_memory(result, output_mode="update")
        final = table.groupBy("window_start").agg(
            F.max("unique_users").alias("unique_users")
        )
        got = {r["window_start"]: r["unique_users"] for r in final.collect()}
        want = {
            r["window_start"]: r["unique_users"]
            for r in unique_users(ev, "ts", "user_id").collect()
        }
        assert got == want
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)


def test_rate_source_liveness(spark, tmp_path):
    """A true unbounded source (rate) drives the flagship operators: two
    processed micro-batches with monotonically advancing offsets."""
    import time as _t

    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "500")
        .load()
        .select(
            F.col("timestamp").alias("ts"),
            (F.col("value") % 50).cast("string").alias("user_id"),
        )
    )
    result = streaming_unique_users(stream, "ts", "user_id", "1 minute", "0 seconds")
    q = (
        result.writeStream.format("memory")
        .queryName("rate_smoke")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_rate"))
        .start()
    )
    try:
        deadline = _t.time() + 60
        while _t.time() < deadline:
            p = q.recentProgress
            if len(p) >= 2 and any(pp["numInputRows"] > 0 for pp in p):
                break
            _t.sleep(0.5)
        else:
            raise AssertionError(f"rate source made no progress: {q.status}")
        assert spark.table("rate_smoke").count() >= 0  # sink materialized
    finally:
        q.stop()
        q.awaitTermination()


def test_late_data_dropped_after_watermark(spark, tmp_path):
    """Late-data semantics (SURVEY §2.2): a row arriving after the
    watermark passed its window is dropped — unlike the reference, which
    updates forever (README.md:132-136).  Spark applies the late-events
    filter with the watermark of the batch BEFORE the previous one (one
    batch of lag), so the late row is sent two batches after its window
    closed; numRowsDroppedByWatermark confirms the drop."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = dt.datetime(2024, 1, 1)

    def write(i, rows):
        import os as _os
        import time as _time

        path = str(tmp_path / f"b{i}.parquet")
        tbl = pa.table({
            "ts": pa.array([r[0] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[1] for r in rows]),
        })
        pq.write_table(tbl, path)
        # strictly increasing mtimes: the file source batches by modTime,
        # equal stamps would pack files into one micro-batch
        t = _time.time() + i * 10
        _os.utime(path, (t, t))

    # batch 0: window 00:00 (u1,u2) plus a row 30 min ahead -> watermark
    # after the batch is ~00:29, closing window 00:00
    write(0, [(base, "u1"), (base + dt.timedelta(seconds=20), "u2"),
              (base + dt.timedelta(minutes=30), "u3")])
    # batch 1: on-time row; late-events watermark now catches up to 00:29
    write(1, [(base + dt.timedelta(minutes=31), "u4")])
    # batch 2: a LATE row for window 00:00 — must be dropped
    write(2, [(base + dt.timedelta(seconds=40), "u9")])

    stream = file_stream(
        spark, str(tmp_path), "ts TIMESTAMP, user_id STRING", max_files_per_trigger=1
    )
    result = streaming_unique_users(stream, "ts", "user_id", "1 minute", "1 minute")
    import json
    import tempfile as _tf
    import uuid as _uuid

    name = f"late_{_uuid.uuid4().hex[:6]}"
    q = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        so["numRowsDroppedByWatermark"]
        for p_ in q.recentProgress
        for so in json.loads(p_.json)["stateOperators"]
    )
    got = {r["window_start"]: r["unique_users"] for r in spark.table(name).collect()}
    # window 00:00 emitted once, with its on-time count; the late row was
    # dropped by the watermark filter, not merged
    assert got.get(base) == 2
    assert dropped >= 1


def test_stream_curation_dedup_state_spans_batches(spark, tmp_path):
    """Streaming curation ingest: re-delivering the same documents in a
    second micro-batch must not raise per-source retained-distinct
    counts — the dropDuplicates state persists across batches — and the
    converged counts equal the batch gate+distinct computation."""
    import tempfile

    from kafkastreamsjavachallenge_spark.functions import text as T
    from kafkastreamsjavachallenge_spark.streaming.pipeline import (
        file_stream,
        run_to_memory,
    )

    docs = load_table(spark, SF_DIR, "documents")
    stage = str(tmp_path / "docs_stream")
    os.makedirs(stage)
    docs.coalesce(1).write.mode("append").parquet(stage)
    docs.coalesce(1).write.mode("append").parquet(stage)  # exact re-delivery

    toks = T.tokens("text")
    n = F.size(toks)
    stream = file_stream(spark, stage, docs.schema, max_files_per_trigger=1)
    gated = stream.filter(
        (n >= 10) & (n <= 500) & (F.lit(5) * F.size(F.array_distinct(toks)) >= n)
    )
    deduped = gated.withColumn("content_hash", F.md5("text")).dropDuplicates(
        ["source", "content_hash"]
    )
    counts = deduped.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    got = run_to_memory(counts, output_mode="update")
    # update mode re-emits a source's row only when its count changes;
    # take the max emitted per source = converged value
    final = {
        r["source"]: r["mx"]
        for r in got.groupBy("source").agg(F.max("n").alias("mx")).collect()
    }
    want = {
        r["source"]: r["n"]
        for r in docs.filter(
            (n >= 10) & (n <= 500) & (F.lit(5) * F.size(F.array_distinct(toks)) >= n)
        )
        .groupBy("source")
        .agg(F.countDistinct(F.md5("text")).alias("n"))
        .collect()
    }
    assert final == want


def test_streaming_observed_metrics(spark, event_files):
    """X2 in streaming form: ingest metrics attached with
    with_stream_metrics ride each micro-batch and surface in
    StreamingQueryProgress.observedMetrics — their per-batch row counts
    must sum to the full fixture, with zero extra passes over the
    stream."""
    from kafkastreamsjavachallenge_spark.operators.observe import (
        with_stream_metrics,
    )
    from kafkastreamsjavachallenge_spark.streaming.pipeline import (
        run_with_observed,
    )

    d, ev = event_files
    n_total = ev.count()
    stream = file_stream(spark, d, ev.schema, max_files_per_trigger=1)
    observed_stream = with_stream_metrics(
        stream,
        "ingest",
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("user_id").isNull().cast("int")).alias("null_uids"),
    )
    result = streaming_unique_users(observed_stream)
    sink, metrics = run_with_observed(result, "ingest")
    assert metrics, "no observedMetrics reported"
    assert sum(m["rows"] for m in metrics) == n_total
    # an empty trailing micro-batch reports sum(NULL) -> null, not 0
    assert all((m["null_uids"] or 0) == 0 for m in metrics)
    assert sink.count() > 0


def test_stream_neardup_state_merges_across_batches(spark, tmp_path):
    """q_stream_neardup's mergeability claim, pinned: the per-bucket
    (count, min) state drained over FOUR micro-batches must equal the
    batch banding built by the exploded operator form in one pass —
    which simultaneously pins that the row-local projection signature
    (functions/text.minhash_signature) matches operators/dedup
    .minhash_signatures value-for-value."""
    from kafkastreamsjavachallenge_spark.functions import text as T
    from kafkastreamsjavachallenge_spark.operators import dedup as D

    docs = load_table(spark, SF_DIR, "documents")
    d = str(tmp_path / "doc_stream")
    os.makedirs(d)
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = docs.toPandas()
    chunk = (len(pdf) + 3) // 4
    for i in range(4):
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[i * chunk : (i + 1) * chunk]),
            os.path.join(d, f"f{i}.parquet"),
        )

    stream = file_stream(spark, d, docs.schema, max_files_per_trigger=1)
    sigs = stream.filter(F.size(F.split(F.trim("text"), " ")) >= 3).select(
        "doc_id",
        T.minhash_signature(
            F.array_distinct(T.shingles(T.tokens("text"), 3)), 8
        ).alias("sig"),
    )
    banded = D.lsh_band_buckets(sigs, "doc_id", bands=4, rows_per_band=2)
    per_bucket = banded.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_id")
    )
    got = {
        (r["band"], r["bucket"]): (r["n_docs"], r["keep_id"])
        for r in run_to_memory(per_bucket, output_mode="complete")
        .filter(F.col("n_docs") >= 2)
        .collect()
    }

    batch = (
        D.lsh_band_buckets(
            D.minhash_signatures(docs, n_perm=8), "doc_id", 4, 2
        )
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_docs") >= 2)
    )
    want = {
        (r["band"], r["bucket"]): (r["n_docs"], r["keep_id"])
        for r in batch.collect()
    }
    assert got == want and len(want) > 0


def test_stream_funnel_matches_batch_funnel_stages(spark):
    """Batch/streaming parity: the streaming funnel's three stage rows
    (row-local run-length top-token fold, one global streaming agg) equal
    the batch funnel's first three rows (explode/groupBy top-token, plain
    aggregates) on the same corpus — same numbers, different physical
    shape on each side of the micro-batch boundary."""
    from kafkastreamsjavachallenge_spark.queries.llm import q_filter_funnel
    from kafkastreamsjavachallenge_spark.queries.streaming_q import q_stream_funnel

    from tests.conftest import SF_DIR

    got = {
        r["stage"]: (r["n_in"], r["n_removed"], r["n_out"], r["removal_bp"])
        for r in q_stream_funnel(spark, SF_DIR).collect()
    }
    want = {
        r["stage"]: (r["n_in"], r["n_removed"], r["n_out"], r["removal_bp"])
        for r in q_filter_funnel(spark, SF_DIR).collect()
        if r["stage"] != "exact_dup"
    }
    assert got == want and len(got) == 3


def test_stream_ks_histogram_state_spans_batches(spark, tmp_path):
    """q_stream_ks's ingest state across REAL micro-batches: documents
    split into 3 time-ordered files, one file per trigger — the
    complete-mode (source, n_chars) histogram must converge to the batch
    histogram exactly, which makes the downstream KS grid (a
    deterministic post-pass over the drained counts, oracle-checked by
    the driver sim) identical by construction."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = load_table(spark, SF_DIR, "documents")
    d = str(tmp_path / "doc_stream")
    os.makedirs(d)
    pdf = docs.toPandas()
    chunk = (len(pdf) + 2) // 3
    for i in range(3):
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[i * chunk : (i + 1) * chunk]),
            os.path.join(d, f"f{i}.parquet"),
        )
    stream = file_stream(spark, d, docs.schema, max_files_per_trigger=1)
    hist = stream.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).alias("c_s")
    )
    got = {
        (r["source"], r["n_chars"]): r["c_s"]
        for r in run_to_memory(hist, output_mode="complete").collect()
    }
    want = {
        (r["source"], r["n_chars"]): r["c_s"]
        for r in docs.groupBy("source", "n_chars")
        .agg(F.count(F.lit(1)).alias("c_s"))
        .collect()
    }
    assert got == want


def test_stream_sliding_anomaly_multibatch_append_finals(spark, event_files):
    """q_stream_anomaly_sliding's stateful core across real micro-batches
    (no horizon sentinel here, so the event-time tail stays open): every
    (event_type, window) count append mode emits is final-correct against
    the batch sliding expansion, nothing is emitted twice, and the
    un-emitted windows are exactly the open tail the watermark never
    passed."""
    from kafkastreamsjavachallenge_spark.catalog import normalize_event_time

    d, ev = event_files
    stream = normalize_event_time(
        file_stream(spark, d, ev.schema, max_files_per_trigger=1), "ts"
    )
    win = (
        stream.withWatermark("ts", "2 minutes")
        .groupBy("event_type", F.window("ts", "2 minutes", "1 minute").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("event_type", F.col("w.start").alias("window_start"), "n")
    )
    rows = run_to_memory(win, output_mode="append").collect()
    got = {(r["event_type"], r["window_start"]): r["n"] for r in rows}
    assert len(got) == len(rows), "a window was emitted twice"
    assert got, "watermark never closed any window across 4 micro-batches"
    want = {
        (r["event_type"], r["window_start"]): r["n"]
        for r in ev.select(
            "event_type",
            F.explode(
                F.array(
                    F.date_trunc("minute", F.col("ts")),
                    F.date_trunc("minute", F.col("ts"))
                    - F.expr("INTERVAL 1 MINUTE"),
                )
            ).alias("window_start"),
        )
        .groupBy("event_type", "window_start")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert all(want[k] == n for k, n in got.items())
    # un-emitted windows sit past the final watermark: strictly later
    # than every emitted window START + the 2-minute window length
    horizon = max(ws for _, ws in got)
    open_tail = [k for k in want if k not in got]
    assert all(ws >= horizon for _, ws in open_tail)


def test_sliding_window_append_checkpoint_recovery(spark, event_files, tmp_path):
    """Kill-and-restart the append-mode sliding-window monitor (the
    q_stream_anomaly_sliding core) from its checkpoint: append mode
    emits each closed window EXACTLY once across both runs — no window
    is re-emitted after restart (the state store holds the emitted-
    watermark), and every emitted count is final-correct against the
    batch sliding expansion."""
    import time as _t

    from kafkastreamsjavachallenge_spark.catalog import normalize_event_time

    d, ev = event_files
    ckpt = str(tmp_path / "ckpt_sliding")
    emitted: list[tuple] = []

    def start():
        stream = normalize_event_time(
            file_stream(spark, d, ev.schema, max_files_per_trigger=1), "ts"
        )
        win = (
            stream.withWatermark("ts", "2 minutes")
            .groupBy(
                "event_type", F.window("ts", "2 minutes", "1 minute").alias("w")
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .select("event_type", F.col("w.start").alias("ws"), "n")
        )
        return (
            win.writeStream.foreachBatch(
                lambda bdf, bid: emitted.extend(
                    (r["event_type"], r["ws"], r["n"]) for r in bdf.collect()
                )
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q1 = start()
    while not q1.recentProgress:
        _t.sleep(0.2)
    q1.stop()
    q1.awaitTermination()
    q2 = start()
    q2.awaitTermination()

    keys = [(t, w) for t, w, _ in emitted]
    assert len(keys) == len(set(keys)), "a closed window was emitted twice"
    assert keys, "no window closed across the two runs"
    want = {
        (r["event_type"], r["ws"]): r["n"]
        for r in ev.select(
            "event_type",
            F.explode(
                F.array(
                    F.date_trunc("minute", F.col("ts")),
                    F.date_trunc("minute", F.col("ts"))
                    - F.expr("INTERVAL 1 MINUTE"),
                )
            ).alias("ws"),
        )
        .groupBy("event_type", "ws")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert all(want[(t, w)] == n for t, w, n in emitted)


def test_stream_queries_leave_tempdir_unchanged(spark):
    """The horizon sentinel and the incremental-dedup work directory are
    throwaway: calling each query twice leaves no new entry in the temp
    dir, and both calls return equal results."""
    import tempfile

    from kafkastreamsjavachallenge_spark.queries.streaming_q import (
        q_stream_incremental_dedup,
        q_stream_unique_users_append,
    )

    tmp = tempfile.gettempdir()
    before = set(os.listdir(tmp))
    for q in (q_stream_unique_users_append, q_stream_incremental_dedup):
        first, second = (sorted(map(tuple, q(spark, SF_DIR).collect())) for _ in range(2))
        assert first == second and first, q.__name__
    assert set(os.listdir(tmp)) == before
