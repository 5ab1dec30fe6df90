"""Reference-parity queries (SURVEY.md §2.1): the operators the reference
actually implements — source scan, JSON extraction, filters, event-time,
tumbling windows, windowed dedup/count, the flagship unique-users, set
aggregate, projection/cast, serde roundtrip, plus the README batch-oracle
functions (from_unixtime / orderBy, /root/reference/README.md:55-56).

All run over the ``events`` table (the log-frames analog, FIXTURES.md §2).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kafkastreamsjavachallenge_spark.catalog import load_table
from kafkastreamsjavachallenge_spark.functions.json import json_field
from kafkastreamsjavachallenge_spark.operators import windows as W


def _events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


# S1 — source scan (Kafka topic analog: UniqueUsersApp.java:92)
def q_source_scan(spark, sf_dir):
    return _events(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


# P1 — JSON field extraction (UniqueUsersApp.java:206-216)
def q_json_extract(spark, sf_dir):
    return _events(spark, sf_dir).select(
        "event_id", json_field("props", "k").alias("k_str")
    )


# P2 — predicate filter (UniqueUsersApp.java:114)
def q_filter(spark, sf_dir):
    df = _events(spark, sf_dir)
    return df.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "event_type"
    )


# P3 — null filter after changelog (UniqueUsersApp.java:121-123)
def q_null_filter(spark, sf_dir):
    df = _events(spark, sf_dir).withColumn(
        "et", F.nullif(F.col("event_type"), F.lit("error"))
    )
    return df.filter(F.col("et").isNotNull()).select("event_id", "et")


# T1 — event-time extraction (LogFrameTimestampExtractor.java:8-14); the
# physical ts type is normalized once, by catalog.normalize_event_time
def q_event_time(spark, sf_dir):
    df = _events(spark, sf_dir)
    sec = F.unix_timestamp("ts")
    return df.select(
        "event_id",
        sec.alias("ts_sec"),
        (F.floor(sec / 60) * 60).cast("bigint").alias("ts_minute"),
    )


# W1 — tumbling 1-minute window (UniqueUsersApp.java:96-97)
def q_tumbling_window(spark, sf_dir):
    return W.windowed_count(_events(spark, sf_dir), "ts", "1 minute")


# A2 — windowed count per key (UniqueUsersApp.java:128-129)
def q_windowed_count(spark, sf_dir):
    return W.windowed_count(_events(spark, sf_dir), "ts", "1 hour", "event_type")


# D1 — stateful windowed dedup (DeduplicateValueTransformer.java:38-48)
def q_dedup_window(spark, sf_dir):
    df = W.windowed_dedup(_events(spark, sf_dir), "ts", "1 minute", "user_id")
    return df.select("window_start", "user_id")


# A3 — the flagship: unique users per minute (UniqueUsersApp.java:91-134)
def q_unique_users(spark, sf_dir):
    return W.unique_users(_events(spark, sf_dir), "ts", "user_id", "1 minute")


# A4 — set-union aggregate (UniqueUsersApp.java:173-191, HashSet variant)
def q_collect_set(spark, sf_dir):
    return W.collect_uid_set(_events(spark, sf_dir), "ts", "user_id", "1 hour")


# X3 — serde roundtrip (HashSetStringSerde.java:12-48 wire format).
# Exercises BOTH directions: encode (collect_uid_set's sorted pipe-join,
# serialize :20-27) and decode (split back into the set, deserialize
# :28-41), then verifies the decoded set against an independently
# re-aggregated one — set_match must be 1 for every window.
def q_serde_roundtrip(spark, sf_dir):
    ev = _events(spark, sf_dir)
    sets = W.collect_uid_set(ev, "ts", "user_id", "1 hour")
    decoded = sets.select(
        "window_start",
        F.array_sort(F.split(F.col("uid_list"), "[|]")).alias("decoded"),
    )
    truth = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.sort_array(
                F.collect_set(F.col("user_id").cast("string"))
            ).alias("truth_uids")
        )
        .select(F.col("w.start").alias("window_start"), "truth_uids")
    )
    return decoded.join(truth, "window_start").select(
        "window_start",
        F.size("decoded").alias("n_roundtrip"),
        (F.col("decoded") == F.col("truth_uids")).cast("int").alias("set_match"),
    )


# M1 — key unwrap + stringify (UniqueUsersApp.java:125,130)
def q_project_cast(spark, sf_dir):
    counts = W.windowed_count(_events(spark, sf_dir), "ts", "1 minute")
    return counts.select(
        F.col("window_start").cast("string").alias("minute_str"),
        F.col("n").cast("string").alias("n_str"),
    )


# README batch oracle (README.md:55-56): from_unixtime + unix_timestamp + orderBy
def q_from_unixtime(spark, sf_dir):
    df = _events(spark, sf_dir).withColumn(
        "date_minute", F.from_unixtime(F.unix_timestamp("ts"), "yyyy-MM-dd HH:mm:00")
    )
    return (
        df.groupBy("date_minute")
        .agg(F.countDistinct("user_id").alias("unique_users"))
        .withColumn(
            "ts_minute", F.unix_timestamp("date_minute", "yyyy-MM-dd HH:mm:00")
        )
        .orderBy("date_minute")
    )


def q_date_trunc(spark, sf_dir):
    df = _events(spark, sf_dir)
    return (
        df.groupBy(
            F.date_trunc("day", "ts").alias("d"), F.date_trunc("hour", "ts").alias("h")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_orderby(spark, sf_dir):
    return (
        _events(spark, sf_dir)
        .select("event_id", "value")
        .orderBy(F.col("value").desc(), "event_id")
    )


def q_distinct(spark, sf_dir):
    return _events(spark, sf_dir).select("event_type").distinct()


_COLLECT_SET_SQL = """
SELECT date_trunc('hour', ts) AS window_start,
       string_agg(DISTINCT CAST(user_id AS VARCHAR), '|' ORDER BY CAST(user_id AS VARCHAR)) AS uid_list,
       count(DISTINCT user_id) AS n_unique
FROM events GROUP BY 1
"""

QUERIES = {
    "q_source_scan": (
        q_source_scan,
        "SELECT count(*) AS n_rows, min(event_id) AS min_id, max(event_id) AS max_id FROM events",
    ),
    "q_json_extract": (
        q_json_extract,
        "SELECT event_id, json_extract_string(props, '$.k') AS k_str FROM events",
    ),
    "q_filter": (
        q_filter,
        "SELECT event_id, user_id, event_type FROM events WHERE event_type = 'error'",
    ),
    "q_null_filter": (
        q_null_filter,
        "SELECT event_id, nullif(event_type, 'error') AS et FROM events "
        "WHERE nullif(event_type, 'error') IS NOT NULL",
    ),
    "q_event_time": (
        q_event_time,
        "SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec, "
        "CAST(floor(floor(epoch(ts))/60)*60 AS BIGINT) AS ts_minute FROM events",
    ),
    "q_tumbling_window": (
        q_tumbling_window,
        "SELECT date_trunc('minute', ts) AS window_start, count(*) AS n FROM events GROUP BY 1",
    ),
    "q_windowed_count": (
        q_windowed_count,
        "SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS n "
        "FROM events GROUP BY 1, 2",
    ),
    "q_dedup_window": (
        q_dedup_window,
        "SELECT DISTINCT date_trunc('minute', ts) AS window_start, user_id FROM events",
    ),
    "q_unique_users": (
        q_unique_users,
        "SELECT date_trunc('minute', ts) AS window_start, "
        "count(DISTINCT user_id) AS unique_users FROM events GROUP BY 1",
    ),
    "q_collect_set": (q_collect_set, _COLLECT_SET_SQL),
    "q_serde_roundtrip": (
        q_serde_roundtrip,
        f"WITH dec AS (SELECT window_start, "
        f"list_sort(string_split(uid_list, '|')) AS decoded "
        f"FROM ({_COLLECT_SET_SQL})), "
        "truth AS (SELECT date_trunc('hour', ts) AS window_start, "
        "list_sort(list(DISTINCT CAST(user_id AS VARCHAR))) AS truth_uids "
        "FROM events GROUP BY 1) "
        "SELECT dec.window_start, len(decoded) AS n_roundtrip, "
        "CAST(decoded = truth_uids AS INT) AS set_match "
        "FROM dec JOIN truth ON dec.window_start = truth.window_start",
    ),
    "q_project_cast": (
        q_project_cast,
        "SELECT CAST(date_trunc('minute', ts) AS VARCHAR) AS minute_str, "
        "CAST(count(*) AS VARCHAR) AS n_str FROM events GROUP BY date_trunc('minute', ts)",
    ),
    "q_from_unixtime": (
        q_from_unixtime,
        "SELECT strftime(m, '%Y-%m-%d %H:%M:00') AS date_minute, u AS unique_users, "
        "CAST(epoch(m) AS BIGINT) AS ts_minute FROM ("
        "SELECT date_trunc('minute', ts) AS m, count(DISTINCT user_id) AS u "
        "FROM events GROUP BY 1)",
    ),
    "q_date_trunc": (
        q_date_trunc,
        "SELECT date_trunc('day', ts) AS d, date_trunc('hour', ts) AS h, count(*) AS n "
        "FROM events GROUP BY 1, 2",
    ),
    "q_orderby": (
        q_orderby,
        "SELECT event_id, value FROM events ORDER BY value DESC, event_id",
    ),
    "q_distinct": (q_distinct, "SELECT DISTINCT event_type FROM events"),
}
