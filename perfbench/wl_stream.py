"""Live-stream workloads: logframes source → parse_log_frames →
streaming_unique_users → for_each_batch, Spark's default trigger, fed by
the open-loop generator process (gen.py).

- stream_steady: offered well below capacity, so batches stay small and
  per-trigger fixed cost sets freshness latency.
- stream_saturated: offered above capacity, so the backlog never empties,
  batches grow and per-event cost sets throughput.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from datetime import datetime

import numpy as np

import gen
import oracle
import stats
from common import Ctx, Result, cores, now, start_session, stop_session
from procstat import MemorySampler, cpu_by_class, engine_processes

HERE = os.path.dirname(os.path.abspath(__file__))

# Offered rates (events/s).  Measured capacity on a 4-core x86 VM at
# local[3] is recorded in spec.json; steady sits far below it, saturated
# above it.  Triggers run back to back, so a batch holds what arrived
# during the previous one and its duration is fixed + per-event cost x
# rate x its predecessor's duration: the steady rate keeps the per-event
# share small, so latency follows the per-trigger fixed cost instead of
# amplifying every change of the per-event cost.
STEADY_RATE = 2_000
SATURATED_RATE = 60_000
# The local[1] pass behind scaling.stream_speedup offers less, still above
# the single-core capacity.
SATURATED_RATE_LOCAL1 = 25_000
# Generated events due in the first WARM_S seconds are not sampled: the
# first few loaded triggers run while the JIT still compiles them.
WARM_S = 6.0
SETUP_TIMEOUT_S = 150.0
DRAIN_TIMEOUT_S = 90.0


class Sink:
    """The foreachBatch function: collects each update batch and stamps
    when the sink call for that batch returned."""

    def __init__(self):
        self.rows: dict[int, list[tuple[int, int]]] = {}
        self.done: dict[int, float] = {}
        self.write_s: dict[int, float] = {}

    def __call__(self, df, batch_id: int) -> None:
        from pyspark.sql import functions as F

        got = df.select(F.unix_timestamp("window_start"), "unique_users").collect()
        t1 = time.monotonic()
        self.rows[batch_id] = [(int(w), int(n)) for w, n in got]
        t2 = time.monotonic()
        self.write_s[batch_id] = t2 - t1
        self.done[batch_id] = t2


def _wait(cond, timeout: float, what: str, period: float = 0.01) -> None:
    deadline = now() + timeout
    while not cond():
        if now() > deadline:
            raise TimeoutError(f"timed out waiting for {what}")
        time.sleep(period)


def _progress(q) -> list[dict]:
    out = [json.loads(p.json) for p in q.recentProgress]
    out.sort(key=lambda p: p["batchId"])
    return out


def _end_offsets(p: dict) -> dict[str, int]:
    end = p["sources"][0]["endOffset"]
    if isinstance(end, str):
        end = json.loads(end)
    return {k: int(v) for k, v in (end or {}).items()}


def _watermark(p: dict) -> float:
    """The batch's event-time watermark in unix seconds (0 before any)."""
    wm = p.get("eventTime", {}).get("watermark")
    return datetime.fromisoformat(wm).timestamp() if wm else 0.0


def _covers(p: dict, final: np.ndarray) -> bool:
    end = _end_offsets(p)
    return all(end.get(str(k), 0) >= int(v) for k, v in enumerate(final))


def run(ctx: Ctx, saturated: bool, n_cores: int | None = None, rate: float | None = None) -> Result:
    rec = ctx.rec
    res = Result()
    rate = rate or (SATURATED_RATE if saturated else STEADY_RATE)
    n_cores = n_cores or max(1, cores() - 1)  # one core stays with the generator
    topic = ctx.path("topic")
    prime = gen.write_frames(topic, gen.prime_plan(ctx.seed))

    sampler = MemorySampler(os.getpid()).start()
    t_setup = now()
    with rec.span("session.build_session"):
        spark = start_session(ctx.work, n_cores)
    session_s = now() - t_setup
    g = None
    try:
        from kafkastreamsjavachallenge_spark.sources.kafka import parse_log_frames
        from kafkastreamsjavachallenge_spark.sources.logframe_ds import LogFrameDataSource
        from kafkastreamsjavachallenge_spark.streaming.pipeline import streaming_unique_users
        from kafkastreamsjavachallenge_spark.streaming.sinks import for_each_batch

        spark.dataSource.register(LogFrameDataSource)
        # for_each_batch leaves the state partition count to the caller;
        # use run_to_memory's "auto" default, max(8, defaultParallelism).
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(max(8, spark.sparkContext.defaultParallelism))
        )
        sink = Sink()
        with rec.span("streaming.start"):
            raw = spark.readStream.format("logframes").option("path", topic).load()
            result = streaming_unique_users(parse_log_frames(raw), ts_col="ts", uid_col="uid")
            q = for_each_batch(result, sink, ctx.path("ckpt"), output_mode="update", available_now=False)
        _wait(lambda: 0 in sink.done or q.exception() is not None, SETUP_TIMEOUT_S, "first micro-batch")
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        setup_s = sink.done[0] - t_setup
        # Late-event filtering uses the previous batch's watermark, so the
        # generator starts only after the no-data batch that follows the
        # prime batch: from then on every too-late frame is dropped.
        _wait(lambda: 1 in sink.done or q.exception() is not None, SETUP_TIMEOUT_S, "second micro-batch")

        gen_out = ctx.path("gen.npz")
        g = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen.py"), "stream", "--topic", topic,
             "--seed", str(ctx.seed), "--rate", str(rate),
             "--seconds", str(WARM_S + ctx.seconds), "--out", gen_out],
            stdout=subprocess.PIPE, text=True,
        )
        sampler.exclude.add(g.pid)
        procs = engine_processes(os.getpid(), exclude={g.pid})
        cpu0 = cpu_by_class(procs)
        t0 = float(g.stdout.readline().split()[1])
        g.wait(timeout=WARM_S + ctx.seconds + 60)
        g.stdout.close()
        if g.returncode != 0:
            raise RuntimeError(f"generator exited with {g.returncode}")
        truth = dict(np.load(gen_out))
        final = truth["end_offsets"]

        def drained() -> bool:
            if q.exception() is not None:
                raise RuntimeError(f"stream failed: {q.exception()}")
            return any(_covers(p, final) and p["batchId"] in sink.done for p in _progress(q))

        # Each progress fetch costs py4j calls and a JSON round trip per
        # batch so far, and the last measured batches are still running:
        # poll gently.
        _wait(drained, DRAIN_TIMEOUT_S, "the stream to drain", period=0.25)
        t_drained = now()
        cpu1 = cpu_by_class(engine_processes(os.getpid(), exclude={g.pid}))
        _wait(lambda: not q.status["isTriggerActive"], 30, "the last trigger")
        q.stop()
        progress = _progress(q)

        if ctx.traced:
            with rec.span("sources.batch_read"):
                read = _batch_read(spark, topic)
    finally:
        if g is not None and g.poll() is None:
            g.kill()
            g.wait()
        stop_session(spark)
        sampler.stop()

    # ---- outputs vs. reference
    et = np.concatenate([prime["et"], truth["et"]])
    uid = np.concatenate([prime["uid"], truth["uid"]])
    kind = np.concatenate([prime["kind"], truth["kind"]])
    got = stats.last_update_per_window([sink.rows[b] for b in sorted(sink.rows)])
    want = oracle.stream_window_counts(et, uid, kind, gen.COUNTED_KINDS)
    for w in sorted(set(got) | set(want)):
        res.check(f"window {w}", got.get(w) == want.get(w), f"got {got.get(w)} want {want.get(w)}")
    late_planted = int((truth["kind"] == gen.KIND_LATE).sum())
    late_dropped = sum(
        int(o.get("numRowsDroppedByWatermark", 0)) for p in progress for o in p["stateOperators"]
    )
    res.check("late frames dropped", late_dropped == late_planted, f"{late_dropped} of {late_planted}")
    bad_planted = int((truth["kind"] == gen.KIND_BAD).sum())
    if ctx.traced:
        res.check("malformed frames rejected", read["rejected"] == bad_planted,
                  f"{read['rejected']} of {bad_planted}")

    # ---- freshness latency of the events due in the measured window
    batch_ids = [p["batchId"] for p in progress]
    ends = [_end_offsets(p) for p in progress]
    done = [sink.done.get(b, np.nan) for b in batch_ids]
    m0, m1 = t0 + WARM_S, t0 + WARM_S + ctx.seconds
    sel = (truth["due"] >= m0) & (truth["due"] < m1) & np.isin(truth["kind"], gen.COUNTED_KINDS)
    lats, unread = [], 0
    for p in range(gen.PARTITIONS):
        mask = sel & (truth["part"] == p)
        lat, miss = stats.event_latencies(ends, done, p, truth["offset"][mask], truth["due"][mask])
        lats.append(lat)
        unread += miss
    lat_ms = np.concatenate(lats) * 1000.0
    res.check("every sampled event emitted", unread == 0 and not np.isnan(lat_ms).any(), f"{unread} unread")
    lat_ms = lat_ms[~np.isnan(lat_ms)]

    meas = [p for p in progress if sink.done.get(p["batchId"], -1.0) >= m0]
    dur = lambda key: [p["durationMs"].get(key, 0) for p in meas]  # noqa: E731
    trigger_ms = dur("triggerExecution")
    rows = [p["numInputRows"] for p in meas]
    tail_ms, tail_q = stats.tail(lat_ms, 99)
    res.e2e.update(
        setup_s=setup_s,
        latency_p50_ms=stats.percentile(lat_ms, 50),
        latency_p99_ms=tail_ms,
        throughput_per_s=sum(rows) / (sum(trigger_ms) / 1000.0),
        peak_rss_mb=sampler.peak_mb,
    )
    res.notes.append(
        f"latency sample n={len(lat_ms)}, latency_p99_ms reports p{tail_q:g}; "
        f"{len(meas)} measured batches"
    )

    ops = lambda p: p["stateOperators"]  # noqa: E731
    last = progress[-1]
    res.layers.update({
        "gen.lag_ms_p99": stats.percentile(truth["lag"], 99) * 1000.0,
        "gen.events": float(len(truth["due"])),
        "session.build_s": session_s,
        "sources.latest_offset_ms_p50": stats.percentile(dur("latestOffset"), 50),
        "sources.get_batch_ms_p50": stats.percentile(dur("getBatch"), 50),
        "streaming.planning_ms_p50": stats.percentile(dur("queryPlanning"), 50),
        "streaming.wal_commit_ms_p50": stats.percentile(dur("walCommit"), 50),
        "streaming.commit_offsets_ms_p50": stats.percentile(dur("commitOffsets"), 50),
        "streaming.state_commit_ms_p50": stats.percentile(
            [sum(o.get("commitTimeMs", 0) for o in ops(p)) for p in meas], 50),
        "streaming.trigger_ms_p50": stats.percentile(trigger_ms, 50),
        "streaming.trigger_ms_p99": stats.percentile(trigger_ms, 99),
        "streaming.add_batch_ms_p50": stats.percentile(dur("addBatch"), 50),
        "streaming.state_update_ms_p50": stats.percentile(
            [sum(o.get("allUpdatesTimeMs", 0) for o in ops(p)) for p in meas], 50),
        "streaming.rows_per_batch_p50": stats.percentile(rows, 50),
        "streaming.state_rows": float(sum(o.get("numRowsTotal", 0) for o in ops(last))),
        "streaming.state_memory_mb": sum(o.get("memoryUsedBytes", 0) for o in ops(last)) / 2**20,
        "streaming.state_rows_removed": float(
            sum(o.get("numRowsRemoved", 0) for p in progress for o in ops(p))),
        "streaming.late_dropped": float(late_dropped),
        "streaming.batches": float(len(meas)),
        "streaming.idle_share": max(0.0, 1.0 - (sum(trigger_ms) / 1000.0) / (t_drained - m0)),
        "sinks.write_ms_p50": stats.percentile(
            [sink.write_s[p["batchId"]] * 1000.0 for p in meas if p["batchId"] in sink.write_s], 50),
        "sinks.rows_emitted": float(sum(len(r) for r in sink.rows.values())),
        "proc.cpu_s_jvm": cpu1["jvm"] - cpu0["jvm"],
        "proc.cpu_s_pyworker": cpu1["pyworker"] - cpu0["pyworker"],
    })
    # Once a batch runs with the watermark past the end of the first prime
    # window, that window's state must have been evicted.  Any run whose
    # generator outlives one trigger gets there.
    if any(_watermark(p) >= gen.PRIME_FIRST_WINDOW_END for p in progress):
        res.check("watermark evicted state", res.layers["streaming.state_rows_removed"] > 0)
    if ctx.traced:
        res.layers["sources.read_events_per_s"] = read["rows"] / read["seconds"]
        res.layers["sources.rows_rejected"] = float(read["rejected"])
        # One span per measured micro-batch from its durationMs, ending when
        # its sink call returned.
        for p in meas:
            end = sink.done[p["batchId"]]
            rec.add("streaming.micro_batch", end - p["durationMs"]["triggerExecution"] / 1000.0, end,
                    parent=rec.current())
    return res


def _batch_read(spark, topic: str) -> dict:
    """Batch read of the finished topic directory through the logframes
    format plus parse_log_frames: rows read per second and rows rejected,
    counted in one pass."""
    from pyspark.sql import functions as F

    from kafkastreamsjavachallenge_spark.operators.observe import with_metrics
    from kafkastreamsjavachallenge_spark.sources.kafka import parse_log_frames

    raw, obs = with_metrics(
        spark.read.format("logframes").option("path", topic).load(), "raw", F.count(F.lit(1)).alias("n")
    )
    t = now()
    parsed = parse_log_frames(raw).count()
    secs = now() - t
    n = int(obs.get["n"])
    return {"rows": n, "seconds": secs, "rejected": n - parsed}
