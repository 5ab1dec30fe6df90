"""Benchmark arithmetic: percentiles, the offset → creation-time join for
freshness latency, and planted-truth scoring.  Pure Python + NumPy so the
unit tests run without a Spark session."""

from __future__ import annotations

import numpy as np

# Percentiles offered by ``tail_percentile``, highest last.
_LADDER = (50.0, 90.0, 99.0, 99.9, 99.99)


def percentile(values, q: float) -> float:
    """The q-th percentile (0-100) by linear interpolation between order
    statistics (NumPy's default rule).  Raises on an empty sample."""
    if len(values) == 0:
        raise ValueError("percentile of an empty sample")
    return float(np.percentile(np.asarray(values, dtype=float), q))


def supported(n: int, q: float, beyond: int = 10) -> bool:
    """Whether a sample of ``n`` values leaves at least ``beyond`` samples
    above the q-th percentile — the rule for which percentiles may be
    reported."""
    return n * (100.0 - q) / 100.0 >= beyond


def tail_percentile(n: int, beyond: int = 10) -> float | None:
    """The highest percentile of the ladder (p50, p90, p99, p99.9, p99.99)
    with at least ``beyond`` samples above it, or None when even the
    median is unsupported."""
    best = None
    for q in _LADDER:
        if supported(n, q, beyond):
            best = q
    return best


def tail(values, q: float = 99.0) -> tuple[float, float]:
    """The tail latency a run may report: the q-th percentile when the
    sample leaves at least ten values above it, else the highest supported
    percentile of the ladder below q, else (fewer than 20 values) the
    median.  Returns (value, percentile used)."""
    best = tail_percentile(len(values))
    used = 50.0 if best is None else min(q, best)
    return percentile(values, used), used


def batch_of_offsets(end_offsets: list[dict[str, int]], partition: int, offsets) -> np.ndarray:
    """For each event offset in ``partition``, the index of the first
    micro-batch whose end offset for that partition exceeds it — the batch
    that read the event.  ``end_offsets[i]`` is batch i's per-partition
    end offset (exclusive, as in ``StreamingQueryProgress.sources[].
    endOffset``), batches in execution order.  Events no batch reached get
    -1."""
    ends = np.array([int(e.get(str(partition), 0)) for e in end_offsets], dtype=np.int64)
    if len(ends) and np.any(np.diff(ends) < 0):
        raise ValueError(f"end offsets of partition {partition} go backwards")
    offs = np.asarray(offsets, dtype=np.int64)
    idx = np.searchsorted(ends, offs, side="right")
    return np.where(idx < len(ends), idx, -1)


def event_latencies(
    end_offsets: list[dict[str, int]],
    batch_done: list[float],
    partition: int,
    offsets,
    created,
) -> tuple[np.ndarray, int]:
    """Freshness latency per event: completion time of the sink call of the
    batch that read it minus its creation time (same clock, seconds).
    Returns (latencies of the events some batch read, count of events no
    batch read)."""
    idx = batch_of_offsets(end_offsets, partition, offsets)
    done = np.asarray(batch_done, dtype=float)
    read = idx >= 0
    lat = done[idx[read]] - np.asarray(created, dtype=float)[read]
    return lat, int((~read).sum())


def recall(planted: set, removed: set) -> float:
    """Share of planted items that were removed; 1.0 when none planted."""
    if not planted:
        return 1.0
    return len(planted & removed) / len(planted)


def score_curation(
    kept: set[int],
    exact_dups: set[int],
    near_dups: set[int],
    uniques: set[int],
) -> dict:
    """Planted-truth scoring of one curation run.

    ``exact_dups`` are the later copies of exact duplicates (all must be
    removed), ``near_dups`` the planted near-duplicate variants (recall is
    the share removed), ``uniques`` the documents with no planted twin
    (none may be removed)."""
    removed_uniques = uniques - kept
    kept_exact = exact_dups & kept
    return {
        "exact_kept": len(kept_exact),
        "uniques_removed": len(removed_uniques),
        "neardup_recall": recall(near_dups, near_dups - kept),
    }


def windows_mismatch(got: dict, want: dict) -> int:
    """Number of windows whose count differs, including windows present on
    only one side."""
    keys = set(got) | set(want)
    return sum(1 for k in keys if got.get(k) != want.get(k))


def last_update_per_window(batches: list[list[tuple[int, int]]]) -> dict[int, int]:
    """Fold update-mode sink output: for each window keep the count of the
    latest batch that emitted it.  ``batches`` in batch order, each a list
    of (window_start, count)."""
    out: dict[int, int] = {}
    for rows in batches:
        for w, n in rows:
            out[w] = n
    return out
