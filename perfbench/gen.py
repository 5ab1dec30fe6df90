"""Seeded input generators.  Each runs in a single process; the program
under test only ever sees the files written here.

- Log-frame topic directory: Kafka-wire JSONL, one ``partition=N.jsonl``
  file per partition, the format ``sources.logframe_ds`` reads.  The
  stream generator runs as its own process (``python3 perfbench/gen.py
  stream ...``) on an open-loop schedule: event i is due at t0 + i/rate
  whatever the engine is doing.
- ``events.parquet`` in the schema of the repo's ``events`` table, for the replay.
- ``documents.parquet`` with planted exact and near duplicates, for the
  curation pipeline.

Every planted share is a module constant, mirrored in spec.json.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

import numpy as np

# ---------------------------------------------------------------- stream

PARTITIONS = 4
# Event-time origin, aligned to a minute so windows are [BASE + 60k, ...).
BASE_TS = 1_699_999_980
# Events per 1-minute event-time window.  With the uid distribution below
# this gives about 46k unique uids per window, the reference's golden
# median density.
EVENTS_PER_WINDOW = 56_000
UID_UNIVERSE = 5_000_000
ZIPF_S = 0.8

# Planted shares of the generated frames (kinds).
DUP_SHARE = 0.02  # exact re-send of an earlier frame of the same window
OOO_SHARE = 0.03  # event time 1..10 s behind, inside the 1-minute watermark
LATE_SHARE = 0.005  # event time an hour before the stream: behind the watermark
MALFORMED_SHARE = 0.005  # rejected by parse_log_frames

KIND_OK, KIND_DUP, KIND_OOO, KIND_LATE, KIND_BAD = 0, 1, 2, 3, 4
COUNTED_KINDS = (KIND_OK, KIND_DUP, KIND_OOO)

_MALFORMED = (
    '{"key":"%d","value":"{\\"ts\\": %d, \\"uid","timestamp":%d}\n',  # truncated JSON
    '{"key":"%d","value":"{\\"ts\\": %d}","timestamp":%d}\n',  # no uid
    '{"key":"%d","value":"{\\"ts\\": %d, \\"uid\\": \\"\\"}","timestamp":%d}\n',  # empty uid
    '{"key":"%d","value":"{\\"ts\\": \\"x%d\\", \\"uid\\": \\"u1\\"}","timestamp":%d}\n',  # ts not a number
)
_FRAME = '{"key":"%d","value":"{\\"ts\\": %d, \\"uid\\": \\"u%d\\"}","timestamp":%d}\n'
_PAGE = 4096


def zipf_uids(rng: np.random.Generator, n: int) -> np.ndarray:
    """Bounded Zipf(s) user ids over [0, UID_UNIVERSE) by inverse CDF of the
    continuous power law, then a fixed scramble so hot ids are not small."""
    u = rng.random(n)
    a = 1.0 - ZIPF_S
    hi = float(UID_UNIVERSE) ** a
    rank = np.floor((1.0 + u * (hi - 1.0)) ** (1.0 / a)).astype(np.int64) - 1
    rank = np.clip(rank, 0, UID_UNIVERSE - 1)
    return (rank * 2_654_435_761) % UID_UNIVERSE


def plan_frames(seed: int, n: int, first_index: int = 0) -> dict[str, np.ndarray]:
    """The frames of a stream run: event time, uid, kind and partition of
    events ``first_index .. first_index + n``.  Event time advances one
    window per EVENTS_PER_WINDOW events, so density per window does not
    depend on the offered rate."""
    rng = np.random.default_rng([seed, first_index])
    i = np.arange(first_index, first_index + n, dtype=np.int64)
    et = BASE_TS + (i * 60) // EVENTS_PER_WINDOW
    uid = zipf_uids(rng, n)
    r = rng.random(n)
    kind = np.full(n, KIND_OK, dtype=np.int8)
    edges = np.cumsum([DUP_SHARE, OOO_SHARE, LATE_SHARE, MALFORMED_SHARE])
    kind[r < edges[3]] = KIND_BAD
    kind[r < edges[2]] = KIND_LATE
    kind[r < edges[1]] = KIND_OOO
    kind[r < edges[0]] = KIND_DUP
    # A duplicate re-sends an earlier frame of the same window verbatim.
    dup = np.nonzero(kind == KIND_DUP)[0]
    back = rng.integers(1, 500, len(dup))
    src = np.maximum(dup - back, 0)
    same_window = et[src] // 60 == et[dup] // 60
    uid[dup[same_window]] = uid[src[same_window]]
    et[dup[same_window]] = et[src[same_window]]
    ooo = kind == KIND_OOO
    et[ooo] -= rng.integers(1, 11, int(ooo.sum()))
    et[kind == KIND_LATE] = BASE_TS - 3600
    part = (i % PARTITIONS).astype(np.int8)
    return {"et": et, "uid": uid, "kind": kind, "part": part}


def frame_lines(plan: dict[str, np.ndarray], lo: int, hi: int) -> list[str]:
    et, uid, kind = plan["et"], plan["uid"], plan["kind"]
    out = []
    for j in range(lo, hi):
        t = int(et[j])
        if kind[j] == KIND_BAD:
            out.append(_MALFORMED[j % len(_MALFORMED)] % (t, t, t))
        else:
            out.append(_FRAME % (t, t, int(uid[j]), t))
    return out


class PartitionWriter:
    """Appends whole lines to one partition file so that no write(2) ever
    crosses a page boundary.  A reader racing the writer then sees the file
    grow by whole pages' worth of complete lines, never a torn last line:
    the page cache publishes the new size only after a page's bytes are
    copied.  The rest of a page that cannot hold the next line is filled
    with a blank line, which the source skips (it still takes an offset).
    """

    def __init__(self, path: str):
        self.fd = os.open(path, os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
        self.pos = os.fstat(self.fd).st_size
        self.lines = _count_lines(path)

    def write(self, lines: list[str]) -> list[int]:
        """Append ``lines``; returns the offset (line number) of each."""
        offsets = []
        buf = bytearray()
        room = _PAGE - self.pos % _PAGE
        for line in lines:
            b = line.encode()
            if len(b) > _PAGE:
                raise ValueError("frame longer than a page")
            if len(b) > room:
                if buf:
                    buf += b" " * (room - 1) + b"\n"
                    os.write(self.fd, bytes(buf))
                    self.pos += len(buf)
                    self.lines += 1
                    buf = bytearray()
                else:
                    os.write(self.fd, b" " * (room - 1) + b"\n")
                    self.pos += room
                    self.lines += 1
                room = _PAGE
            offsets.append(self.lines)
            self.lines += 1
            buf += b
            room -= len(b)
            if room == 0:
                os.write(self.fd, bytes(buf))
                self.pos += len(buf)
                buf = bytearray()
                room = _PAGE
        if buf:
            os.write(self.fd, bytes(buf))
            self.pos += len(buf)
        return offsets

    def close(self) -> None:
        os.close(self.fd)


def _count_lines(path: str) -> int:
    try:
        with open(path, "rb") as f:
            return sum(1 for _ in f)
    except FileNotFoundError:
        return 0


def write_frames(topic: str, plan: dict[str, np.ndarray]) -> dict[str, np.ndarray]:
    """Write a whole plan at once (the prime frames written before the
    query starts).  Returns the plan with each frame's offset."""
    os.makedirs(topic, exist_ok=True)
    offsets = np.zeros(len(plan["et"]), dtype=np.int64)
    lines = frame_lines(plan, 0, len(plan["et"]))
    for p in range(PARTITIONS):
        idx = np.nonzero(plan["part"] == p)[0]
        w = PartitionWriter(os.path.join(topic, f"partition={p}.jsonl"))
        try:
            offsets[idx] = w.write([lines[j] for j in idx])
        finally:
            w.close()
    return dict(plan, offset=offsets)


def run_stream_generator(topic: str, seed: int, rate: float, seconds: float, out: str) -> None:
    """Open loop: append the frames due so far every few milliseconds for
    ``seconds``; event i is due at t0 + i / rate.  Writes to ``out`` an
    .npz with every frame's partition, offset, due time (time.monotonic),
    event time, uid and kind, plus the write lag per frame."""
    n = int(rate * seconds)
    plan = plan_frames(seed, n, first_index=PRIME_EVENTS)
    writers = [PartitionWriter(os.path.join(topic, f"partition={p}.jsonl")) for p in range(PARTITIONS)]
    offsets = np.zeros(n, dtype=np.int64)
    written_at = np.zeros(n, dtype=np.float64)
    part = plan["part"]
    done = 0
    t0 = time.monotonic()
    print(f"T0 {t0!r}", flush=True)
    try:
        while done < n:
            now = time.monotonic()
            due = min(n, int((now - t0) * rate) + 1)
            if due > done:
                lines = frame_lines(plan, done, due)
                for p in range(PARTITIONS):
                    idx = np.nonzero(part[done:due] == p)[0]
                    if len(idx):
                        offsets[done + idx] = writers[p].write([lines[j] for j in idx])
                written_at[done:due] = time.monotonic()
                done = due
            time.sleep(0.002)
    finally:
        for w in writers:
            w.close()
    due_at = t0 + np.arange(n, dtype=np.float64) / rate
    np.savez(
        out,
        t0=np.float64(t0),
        rate=np.float64(rate),
        part=part,
        offset=offsets,
        due=due_at,
        lag=np.maximum(written_at - due_at, 0.0),
        et=plan["et"],
        uid=plan["uid"],
        kind=plan["kind"],
        end_offsets=np.array([w.lines for w in writers], dtype=np.int64),
    )


# Frames written before the query starts: the cold first micro-batch reads
# these, so the open-loop schedule starts against a running query.
PRIME_EVENTS = 4_000
# The prime frames span this many 1-minute windows before BASE_TS.  With
# two, the first prime window closes (its end is a minute behind the first
# generated event time) as soon as the generated frames arrive, so state
# eviction shows in every run whatever the offered rate.
PRIME_WINDOWS = 2
PRIME_FIRST_WINDOW_END = BASE_TS - 60 * (PRIME_WINDOWS - 1)


def prime_plan(seed: int) -> dict[str, np.ndarray]:
    """The prime frames: well-formed, event time in the PRIME_WINDOWS
    minutes before BASE_TS, so the prime batch moves the watermark past
    every planted too-late frame (which sits an hour earlier)."""
    rng = np.random.default_rng([seed, 7])
    n = PRIME_EVENTS
    span = 60 * PRIME_WINDOWS
    return {
        "et": BASE_TS - span + (np.arange(n, dtype=np.int64) * span) // n,
        "uid": zipf_uids(rng, n),
        "kind": np.zeros(n, dtype=np.int8),
        "part": (np.arange(n) % PARTITIONS).astype(np.int8),
    }


# ---------------------------------------------------------------- replay

REPLAY_EVENTS = 1_000_000
REPLAY_T0_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00
_EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"], dtype=object)
_PROPS = np.array([f'{{"k": {k}}}' for k in range(100)], dtype=object)


def write_events(path: str, seed: int, n: int = REPLAY_EVENTS) -> int:
    """``events.parquet`` in the ``events`` table schema (event_id, ts
    TIMESTAMP(MICROS) without zone, user_id, event_type, value, props), one
    row group like the repo's test data, EVENTS_PER_WINDOW events per minute
    with Zipf user ids.  Returns the row count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 11])
    minutes = -(-n // EVENTS_PER_WINDOW)
    ts = REPLAY_T0_US + np.sort(rng.integers(0, minutes * 60_000_000, n))
    table = pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": zipf_uids(rng, n),
            "event_type": pa.array(_EVENT_TYPES[rng.integers(0, 5, n)], type=pa.string()),
            "value": rng.random(n),
            "props": pa.array(_PROPS[rng.integers(0, 100, n)], type=pa.string()),
        }
    )
    pq.write_table(table, path, row_group_size=n)
    return n


# -------------------------------------------------------------- curation

CURATION_BASE_DOCS = 2_500
EXACT_DUP_SHARE = 0.10  # of base docs, copied verbatim under a new id
NEAR_DUP_SHARE = 0.10  # of base docs, copied with ~3% of tokens replaced
LOW_QUALITY_SHARE = 0.05  # of base docs, fail quality_filter (too short / repetitive)
VOCAB = 2_000


def write_documents(path: str, seed: int, n_base: int = CURATION_BASE_DOCS) -> dict:
    """``documents.parquet`` (doc_id, text, lang, source, n_chars).  Base
    docs come first (ids 0..n_base-1); each planted twin gets an id above
    every base id, so ``neardup_dedup`` (which drops the higher id of a
    verified pair) and ``exact_dedup`` (which keeps the min id) must drop
    exactly the twins.  Returns the planted truth as id lists."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 13])
    words = np.array([f"w{k}" for k in range(VOCAB)], dtype=object)
    p = 1.0 / np.arange(1, VOCAB + 1) ** 0.8
    p /= p.sum()
    texts: list[str] = []
    role = rng.random(n_base)
    low = role < LOW_QUALITY_SHARE
    for k in range(n_base):
        if low[k]:
            # alternately too short and too repetitive (type-token ratio < 0.2)
            toks = rng.choice(words, 5, p=p) if k % 2 else np.repeat(rng.choice(words, 2), 20)
        else:
            toks = rng.choice(words, int(rng.integers(20, 120)), p=p)
        texts.append(" ".join(toks))
    ids = list(range(n_base))
    exact, near = [], []
    eligible = np.nonzero(~low)[0]
    picks = rng.permutation(eligible)
    n_exact = int(EXACT_DUP_SHARE * n_base)
    n_near = int(NEAR_DUP_SHARE * n_base)
    for k in picks[:n_exact]:
        ids.append(len(texts))
        exact.append(len(texts))
        texts.append(texts[k])
    for k in picks[n_exact : n_exact + n_near]:
        toks = texts[k].split(" ")
        n_edit = max(1, round(0.03 * len(toks)))
        for j in rng.choice(len(toks), n_edit, replace=False):
            toks[j] = f"x{rng.integers(0, 10**9)}"
        ids.append(len(texts))
        near.append(len(texts))
        texts.append(" ".join(toks))
    order = rng.permutation(len(texts))  # rows shuffled; ids carry the roles
    t = pa.table(
        {
            "doc_id": pa.array(np.array(ids, dtype=np.int64)[order]),
            "text": pa.array([texts[j] for j in order], type=pa.string()),
            "lang": pa.array(["en"] * len(texts), type=pa.string()),
            "source": pa.array([f"src{j % 20}" for j in order], type=pa.string()),
            "n_chars": pa.array(np.array([len(texts[j]) for j in order], dtype=np.int64)),
        }
    )
    pq.write_table(t, path, row_group_size=len(texts))
    return {
        "n_docs": len(texts),
        "exact": exact,
        "near": near,
        "low_quality": [int(k) for k in np.nonzero(low)[0]],
        "uniques": [int(k) for k in eligible],
    }


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description="open-loop log-frame generator")
    ap.add_argument("mode", choices=["stream"])
    ap.add_argument("--topic", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    run_stream_generator(a.topic, a.seed, a.rate, a.seconds, a.out)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
