"""Reference recounts in DuckDB, independent of the engine."""

from __future__ import annotations

import duckdb
import numpy as np


def stream_window_counts(et: np.ndarray, uid: np.ndarray, kind: np.ndarray, counted) -> dict[int, int]:
    """Distinct uids per 1-minute window over the generated frames whose
    kind is in ``counted`` (well-formed and not too late)."""
    import pyarrow as pa

    frames = pa.table({"et": et, "uid": uid, "kind": kind})  # noqa: F841 - scanned by name
    kinds = ",".join(str(int(k)) for k in counted)
    rows = duckdb.sql(
        f"SELECT (et // 60) * 60 AS w, count(DISTINCT uid) FROM frames "
        f"WHERE kind IN ({kinds}) GROUP BY w"
    ).fetchall()
    return {int(w): int(n) for w, n in rows}


def replay_window_counts(parquet: str) -> dict[int, int]:
    """The reference's batch oracle over events.parquet: count(DISTINCT
    user_id) per minute, keyed by the minute's unix seconds."""
    rows = duckdb.sql(
        "SELECT epoch(date_trunc('minute', ts))::BIGINT AS w, count(DISTINCT user_id) "
        f"FROM read_parquet('{parquet}') GROUP BY w"
    ).fetchall()
    return {int(w): int(n) for w, n in rows}
