"""Unit tests of the benchmark's own arithmetic (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import stats  # noqa: E402
from spans import Recorder, Span, self_time, self_times_by_name  # noqa: E402


# ------------------------------------------------------------ percentiles

def test_percentile_interpolates_between_order_statistics():
    assert stats.percentile([1, 2, 3, 4], 50) == 2.5
    assert stats.percentile(list(range(101)), 99) == 99.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_percentile_rule_needs_ten_samples_beyond():
    # p99 leaves n/100 samples above it: 1000 samples leave exactly 10.
    assert stats.supported(1000, 99)
    assert not stats.supported(999, 99)
    assert stats.tail_percentile(999) == 90.0
    assert stats.tail_percentile(1000) == 99.0
    assert stats.tail_percentile(100_000) == 99.99
    assert stats.tail_percentile(19) is None
    assert stats.tail_percentile(20) == 50.0


def test_tail_falls_back_to_the_highest_supported_percentile():
    assert stats.tail(list(range(1001))) == (990.0, 99.0)
    assert stats.tail(list(range(100_001))) == (99_000.0, 99.0)  # p99.9 supported, p99 asked
    assert stats.tail(list(range(101))) == (90.0, 90.0)
    assert stats.tail([4.0, 1.0, 3.0, 2.0, 5.0]) == (3.0, 50.0)  # too few for any tail


# ------------------------------------------------- offsets → creation time

def test_batch_of_offsets_finds_first_batch_past_the_offset():
    # batch 0 read [0, 5), batch 1 was a no-data batch, batch 2 read [5, 9)
    ends = [{"0": 5}, {"0": 5}, {"0": 9}]
    idx = stats.batch_of_offsets(ends, 0, [0, 4, 5, 8, 9])
    assert idx.tolist() == [0, 0, 2, 2, -1]


def test_batch_of_offsets_rejects_offsets_going_backwards():
    with pytest.raises(ValueError):
        stats.batch_of_offsets([{"0": 5}, {"0": 3}], 0, [1])


def test_event_latencies_join_per_partition():
    ends = [{"0": 2, "1": 1}, {"0": 4, "1": 3}]
    done = [10.0, 20.0]
    lat0, miss0 = stats.event_latencies(ends, done, 0, [0, 1, 2, 3], [9.0, 9.5, 11.0, 12.0])
    assert lat0.tolist() == [1.0, 0.5, 9.0, 8.0] and miss0 == 0
    lat1, miss1 = stats.event_latencies(ends, done, 1, [0, 2, 3], [5.0, 15.0, 16.0])
    assert lat1.tolist() == [5.0, 5.0] and miss1 == 1  # offset 3 never read


def test_last_update_per_window_keeps_latest_batch():
    batches = [[(60, 3), (120, 1)], [], [(120, 4)]]
    assert stats.last_update_per_window(batches) == {60: 3, 120: 4}
    assert stats.windows_mismatch({60: 3, 120: 4}, {60: 3, 120: 5, 180: 1}) == 2


# ------------------------------------------------------------- self time

def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", start, end, parent, "r")


def test_self_time_subtracts_union_of_children():
    root = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 3.0, 0), _span(2, 2.0, 4.0, 0), _span(3, 8.0, 12.0, 0)]
    # covered: [1, 4) and [8, 10) → 5 of 10
    assert self_time(root, kids) == pytest.approx(5.0)
    assert self_time(root, []) == pytest.approx(10.0)


def test_self_times_by_name_over_a_tree():
    spans = [_span(0, 0.0, 10.0), _span(1, 2.0, 6.0, 0), _span(2, 3.0, 4.0, 1)]
    got = self_times_by_name(spans)
    assert got == pytest.approx({"s0": 6.0, "s1": 3.0, "s2": 1.0})


def test_recorder_nests_and_disabled_records_nothing():
    rec = Recorder("r")
    with rec.span("a"):
        with rec.span("b"):
            pass
    assert [(s.name, s.parent) for s in rec.spans] == [("a", None), ("b", 0)]
    off = Recorder("r", enabled=False)
    with off.span("a"):
        off.add("b", 0.0, 1.0)
    assert off.spans == []


# -------------------------------------------------- planted-truth scoring

def test_score_curation():
    exact, near, uniques = {10, 11}, {20, 21, 22, 23}, {1, 2, 3}
    kept = {1, 2, 3, 22}  # both exact twins gone, 3 of 4 near twins gone
    s = stats.score_curation(kept, exact, near, uniques)
    assert s == {"exact_kept": 0, "uniques_removed": 0, "neardup_recall": 0.75}
    s = stats.score_curation({2, 3, 10, 20, 21, 22, 23}, exact, near, uniques)
    assert s == {"exact_kept": 1, "uniques_removed": 1, "neardup_recall": 0.0}
    assert stats.recall(set(), {1}) == 1.0


def test_planted_stream_shares_and_late_frames():
    plan = gen.plan_frames(seed=5, n=200_000, first_index=gen.PRIME_EVENTS)
    kind = plan["kind"]
    for k, share in ((gen.KIND_DUP, gen.DUP_SHARE), (gen.KIND_OOO, gen.OOO_SHARE),
                     (gen.KIND_LATE, gen.LATE_SHARE), (gen.KIND_BAD, gen.MALFORMED_SHARE)):
        assert abs((kind == k).mean() - share) < 0.2 * share + 0.001
    assert (plan["et"][kind == gen.KIND_LATE] == gen.BASE_TS - 3600).all()
    ok = kind != gen.KIND_LATE
    assert (plan["et"][ok] >= gen.BASE_TS - 10).all()
    again = gen.plan_frames(seed=5, n=200_000, first_index=gen.PRIME_EVENTS)
    assert all(np.array_equal(plan[c], again[c]) for c in plan)


def test_prime_frames_close_their_first_window_once_generation_starts():
    prime = gen.prime_plan(seed=5)
    et = prime["et"]
    assert len(et) == gen.PRIME_EVENTS and (prime["kind"] == gen.KIND_OK).all()
    assert et.min() == gen.BASE_TS - 60 * gen.PRIME_WINDOWS and et.max() < gen.BASE_TS
    # every prime window holds frames, and the first one ends a minute
    # before the first generated event time
    assert len(set((et // 60).tolist())) == gen.PRIME_WINDOWS
    assert gen.PRIME_FIRST_WINDOW_END == et.min() + 60 == gen.BASE_TS - 60 * (gen.PRIME_WINDOWS - 1)


def test_partition_writer_never_splits_a_page(tmp_path):
    path = str(tmp_path / "partition=0.jsonl")
    w = gen.PartitionWriter(path)
    calls = []
    real = os.write

    def spy(fd, data):
        calls.append((w.pos, len(data)))
        return real(fd, data)

    plan = gen.plan_frames(seed=1, n=3_000)
    lines = gen.frame_lines(plan, 0, 3_000)
    os.write, saved = spy, os.write
    try:
        offs = w.write(lines[:1000]) + w.write(lines[1000:])
    finally:
        os.write = saved
        w.close()
    for pos, n in calls:
        assert pos // 4096 == (pos + n - 1) // 4096
    with open(path) as f:
        file_lines = f.read().split("\n")[:-1]
    assert [file_lines[o] + "\n" for o in offs] == lines
    assert all(not ln.strip() for i, ln in enumerate(file_lines) if i not in set(offs))


def test_spec_json_matches_the_code():
    import json

    import closed
    import wl_stream

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "spec.json")) as f:
        spec = json.load(f)
    w, planted = spec["workloads"], spec["planted"]
    assert w["stream_steady"]["rate_events_per_s"] == wl_stream.STEADY_RATE
    assert w["stream_saturated"]["rate_events_per_s"] == wl_stream.SATURATED_RATE
    assert w["stream_saturated"]["local1_rate_events_per_s"] == wl_stream.SATURATED_RATE_LOCAL1
    assert w["stream_steady"]["warmup_s"] == w["stream_saturated"]["warmup_s"] == wl_stream.WARM_S
    assert w["stream_steady"]["prime_events"] == gen.PRIME_EVENTS
    assert w["stream_steady"]["prime_windows"] == gen.PRIME_WINDOWS
    assert w["replay_backfill"]["events"] == gen.REPLAY_EVENTS
    assert w["replay_backfill"]["events_per_minute"] == gen.EVENTS_PER_WINDOW
    for name in ("replay_backfill", "curation_dedup", "batch_backfill"):
        assert w[name]["warmup_jobs"] == closed.WARM_JOBS
    assert w["curation_dedup"]["base_docs"] == gen.CURATION_BASE_DOCS
    n_twins = int(gen.EXACT_DUP_SHARE * gen.CURATION_BASE_DOCS) + int(gen.NEAR_DUP_SHARE * gen.CURATION_BASE_DOCS)
    assert w["curation_dedup"]["docs"] == gen.CURATION_BASE_DOCS + n_twins
    st = planted["stream"]
    assert (st["partitions"], st["events_per_window"], st["uid_zipf_s"], st["uid_universe"]) == (
        gen.PARTITIONS, gen.EVENTS_PER_WINDOW, gen.ZIPF_S, gen.UID_UNIVERSE)
    assert (st["duplicate_share"], st["out_of_order_share"], st["too_late_share"], st["malformed_share"]) == (
        gen.DUP_SHARE, gen.OOO_SHARE, gen.LATE_SHARE, gen.MALFORMED_SHARE)
    cu = planted["curation"]
    assert (cu["vocabulary"], cu["exact_dup_share"], cu["near_dup_share"], cu["low_quality_share"]) == (
        gen.VOCAB, gen.EXACT_DUP_SHARE, gen.NEAR_DUP_SHARE, gen.LOW_QUALITY_SHARE)
    assert cu["min_neardup_recall"] == closed.MIN_NEARDUP_RECALL
