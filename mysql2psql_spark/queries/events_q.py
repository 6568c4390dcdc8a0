"""Streaming-shaped queries over `events` (SURVEY.md §2.13 fill).

The reference is a batch snapshot migrator; the engine adds the standard
event-stream operators as batch-first implementations whose shapes are
streaming-compatible (mysql2psql_spark/streaming/ wires the same logic
through readStream/withWatermark).

Bucket keys are epoch-aligned so Spark's window() start and the oracle's
arithmetic bucketing agree exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from mysql2psql_spark.operators.timeutil import epoch_of
from mysql2psql_spark.queries import query
from mysql2psql_spark.sources import load_table


def _dec(c: str) -> F.Column:
    return F.col(c).cast("decimal(12,4)")


# ---------------------------------------------------------------------------
# Tumbling window aggregation: F.window() (epoch-aligned) — the batch twin
# of the Structured Streaming groupBy(window(ts, ...)) shape.
# ---------------------------------------------------------------------------
@query(
    "stream_tumbling_window",
    oracle="""
    SELECT (CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 300) * 300 AS bucket_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    ep = epoch_of(e)
    return (
        e.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(_dec("value")), 2).cast("double").alias("sum_value"),
        )
        .select(
            ep("w.start").alias("bucket_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# Sliding window: 10-minute windows every 5 minutes (window duration >
# slide -> each event lands in 2 windows).
# ---------------------------------------------------------------------------
@query(
    "stream_sliding_window",
    oracle="""
    WITH slid AS (
      SELECT ((CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 300) * 300 - shift.s) AS win_start, value
      FROM events, (SELECT UNNEST([0, 300]) AS s) shift
      WHERE ((CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 300) * 300 - shift.s) >= 0
    )
    SELECT win_start, COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE) AS sum_value
    FROM slid
    GROUP BY win_start
    """,
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    ep = epoch_of(e)
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(_dec("value")), 2).cast("double").alias("sum_value"),
        )
        .select(
            ep("w.start").alias("win_start"),
            "n_events",
            "sum_value",
        )
        .filter(F.col("win_start") >= 0)
    )


# ---------------------------------------------------------------------------
# Sessionization: gap > 30 min starts a new session. Batch form = lag +
# running sum of session-start flags (one shuffle on user_id); streaming
# twin = session_window(ts, '30 minutes').
# ---------------------------------------------------------------------------
@query(
    "stream_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR CAST(FLOOR(EPOCH(ts)) AS BIGINT)
                          - CAST(FLOOR(EPOCH(LAG(ts) OVER w)) AS BIGINT) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, event_id, ts,
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_seq
      FROM flagged
    )
    SELECT user_id, session_seq,
           CAST(FLOOR(EPOCH(MIN(ts))) AS BIGINT) AS session_start,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_seq
    """,
)
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    ep = epoch_of(e)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    prev_ts = F.lag("ts").over(w)
    new_session = F.when(
        prev_ts.isNull() | ((ep(F.col("ts")) - ep(prev_ts)) > 1800),
        F.lit(1),
    ).otherwise(F.lit(0))
    return (
        e.withColumn("session_seq", F.sum(new_session).over(wsum))
        .groupBy("user_id", "session_seq")
        .agg(
            ep(F.min("ts")).alias("session_start"),
            F.count("*").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# Event-stream dedup by key within a time bucket — the batch twin of
# dropDuplicatesWithinWatermark: keep the first event per (user, type,
# minute).
# ---------------------------------------------------------------------------
@query(
    "stream_dedup_first",
    oracle="""
    SELECT user_id, event_type, minute_bucket, event_id AS first_event_id FROM (
      SELECT user_id, event_type,
             (CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 60) * 60 AS minute_bucket,
             event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type,
                                (CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 60) * 60
                                ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def stream_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    ep = epoch_of(e)
    bucket = (F.floor(ep("ts") / 60) * 60).alias("minute_bucket")
    w = W.partitionBy("user_id", "event_type", "minute_bucket").orderBy("ts", "event_id")
    return (
        e.select("user_id", "event_type", bucket, "event_id", "ts")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "minute_bucket", F.col("event_id").alias("first_event_id"))
    )


# ---------------------------------------------------------------------------
# Typed JSON parsing: from_json with an explicit schema (the scalable twin
# of get_json_object — one parse per row into a struct Catalyst can prune,
# instead of one parse per extracted path).
# ---------------------------------------------------------------------------
@query(
    "f_json_typed_struct",
    oracle="""
    SELECT event_id,
           CAST(props::JSON ->> 'k' AS INTEGER) AS k_val,
           (CAST(props::JSON ->> 'k' AS INTEGER) IS NOT NULL) AS parsed_ok
    FROM events
    """,
)
def f_json_typed_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    parsed = F.from_json("props", "k INT")
    return e.select(
        "event_id",
        parsed.getField("k").alias("k_val"),
        parsed.getField("k").isNotNull().alias("parsed_ok"),
    )


# ---------------------------------------------------------------------------
# Quarantine split: the data-quality gate a training pipeline puts in
# front of ingestion — try_cast the raw column, keep valid rows, count the
# quarantined remainder per reason. One pass, no Python.
# ---------------------------------------------------------------------------
@query(
    "quality_quarantine",
    oracle="""
    WITH raw AS (
      SELECT event_id,
             CASE WHEN event_id % 11 = 0 THEN 'not-a-number'
                  WHEN event_id % 13 = 0 THEN NULL
                  ELSE CAST(value AS VARCHAR) END AS raw_value
      FROM events
    )
    SELECT CASE WHEN TRY_CAST(raw_value AS DOUBLE) IS NOT NULL THEN 'valid'
                WHEN raw_value IS NULL THEN 'missing'
                ELSE 'unparseable' END AS bucket,
           COUNT(*) AS n
    FROM raw GROUP BY 1
    """,
)
def quality_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    raw = (
        F.when(F.col("event_id") % 11 == 0, F.lit("not-a-number"))
        .when(F.col("event_id") % 13 == 0, F.lit(None))
        .otherwise(F.col("value").cast("string"))
    )
    bucket = (
        F.when(raw.try_cast("double").isNotNull(), F.lit("valid"))
        .when(raw.isNull(), F.lit("missing"))
        .otherwise(F.lit("unparseable"))
    )
    return e.select(bucket.alias("bucket")).groupBy("bucket").agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# As-of join (SURVEY §2.3 note: absent in reference and in Spark's join
# API): for each event, the customer's most recent order at or before the
# event time. The oracle spells the same semantics with a ranked
# inequality join; the engine's union + forward-fill window is linear in
# |events| + |orders| (operators/asof.py).
# ---------------------------------------------------------------------------
@query(
    "j5_asof_last_order",
    oracle="""
    SELECT event_id, user_id, last_orderkey,
           STRFTIME(last_orderdate, '%Y-%m-%d') AS last_orderdate
    FROM (
      SELECT e.event_id, e.user_id, o.o_orderkey AS last_orderkey,
             o.o_orderdate AS last_orderdate,
             ROW_NUMBER() OVER (
               PARTITION BY e.event_id
               ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
             ) AS rn
      FROM events e JOIN orders o
        ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    ) WHERE rn = 1
    """,
)
def j5_asof_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql2psql_spark.operators.asof import asof_join

    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderdate")
    joined = asof_join(
        e,
        o.withColumnRenamed("o_custkey", "user_id"),
        key="user_id",
        left_time="ts",
        right_time="o_orderdate",
        payload=["o_orderkey", "o_orderdate"],
        tiebreak="o_orderkey",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("o_orderkey").alias("last_orderkey"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("last_orderdate"),
    )


# ---------------------------------------------------------------------------
# Stream-stream interval join (click -> purchase attribution): every
# click by the same user within the hour preceding a purchase. The batch
# twin below defines the semantics and is oracle-checked; the streaming
# twin (streaming/events.py::attribution_join_stream) runs the identical
# join with watermarks on both sides — the time bound is what lets Spark
# expire join state, so state stays O(events within the interval), not
# O(stream).
# ---------------------------------------------------------------------------
@query(
    "stream_attribution_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id,
           CAST(FLOOR(EPOCH(p.ts)) AS BIGINT)
             - CAST(FLOOR(EPOCH(c.ts)) AS BIGINT) AS lag_seconds
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
    """,
)
def stream_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    ep = epoch_of(e)
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    joined = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
    )
    return joined.select(
        "purchase_id",
        "click_id",
        "user_id",
        (ep("p_ts") - ep("c_ts")).alias("lag_seconds"),
    )


# ---------------------------------------------------------------------------
# Funnel analysis: per user, the earliest ordered view -> click ->
# purchase chain (the conversion-sequence query of product analytics).
# Three stage aggregates, each keyed by user_id (uniform hash shuffles,
# map-side combined); every stage's frame shrinks to |users who reached
# the stage|, so the joins get cheaper monotonically — no window over
# the full event stream, no per-user sort.
# ---------------------------------------------------------------------------
@query(
    "events_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, v.t_view, MIN(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id, v.t_view
    ),
    p AS (
      SELECT e.user_id, c.t_view, c.t_click, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id, c.t_view, c.t_click
    )
    SELECT user_id,
           CAST(FLOOR(EPOCH(t_view)) AS BIGINT) AS view_epoch,
           CAST(FLOOR(EPOCH(t_click)) AS BIGINT) AS click_epoch,
           CAST(FLOOR(EPOCH(t_purchase)) AS BIGINT) AS purchase_epoch
    FROM p
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    ep = epoch_of(e)
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id", "t_view")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id", "t_view", "t_click")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return p.select(
        "user_id",
        ep("t_view").alias("view_epoch"),
        ep("t_click").alias("click_epoch"),
        ep("t_purchase").alias("purchase_epoch"),
    )


# ---------------------------------------------------------------------------
# Cohort retention: users grouped by first-seen day, counted per
# days-since-cohort offset (the retention matrix behind every growth
# dashboard). Two aggregates keyed by user_id, then one by (cohort,
# offset) — all uniform hash shuffles with map-side combine; the matrix
# output is |cohorts| x |offsets| rows regardless of event volume.
# ---------------------------------------------------------------------------
@query(
    "events_retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             (CAST(FLOOR(EPOCH(MIN(ts))) AS BIGINT) // 86400) * 86400 AS cohort_day
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             (CAST(FLOOR(EPOCH(e.ts)) AS BIGINT) // 86400) * 86400 AS active_day
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT cohort_day,
           CAST((active_day - cohort_day) // 86400 AS BIGINT) AS day_offset,
           COUNT(*) AS n_active_users
    FROM activity
    GROUP BY 1, 2
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    ep = epoch_of(e)
    day = (F.floor(ep("ts") / 86400) * 86400).cast("long")
    firsts = e.groupBy("user_id").agg(F.min("ts").alias("first_ts")).select(
        "user_id",
        (F.floor(ep("first_ts") / 86400) * 86400).cast("long").alias("cohort_day"),
    )
    activity = (
        e.select("user_id", day.alias("active_day"))
        .distinct()
        .join(firsts, "user_id")
    )
    return activity.groupBy(
        "cohort_day",
        ((F.col("active_day") - F.col("cohort_day")) / 86400).cast("bigint").alias("day_offset"),
    ).agg(F.count("*").alias("n_active_users"))


# ---------------------------------------------------------------------------
# Session-length distribution: the observability rollup over the
# sessionization output (how long are sessions, how many events) that
# sizes streaming state stores and session_window gap choices. Output is
# histogram-sized (distinct n_events values), independent of event
# volume; durations stay integer seconds so the rollup is exact.
# ---------------------------------------------------------------------------
@query(
    "events_session_stats",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR CAST(FLOOR(EPOCH(ts)) AS BIGINT)
                          - CAST(FLOOR(EPOCH(LAG(ts) OVER w)) AS BIGINT) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts,
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_seq
      FROM flagged
    ), per_session AS (
      SELECT user_id, session_seq,
             COUNT(*) AS n_events,
             CAST(FLOOR(EPOCH(MAX(ts))) AS BIGINT)
               - CAST(FLOOR(EPOCH(MIN(ts))) AS BIGINT) AS duration_s
      FROM sessions GROUP BY user_id, session_seq
    )
    SELECT n_events,
           COUNT(*) AS n_sessions,
           CAST(SUM(duration_s) AS BIGINT) AS total_duration_s,
           CAST(MAX(duration_s) AS BIGINT) AS max_duration_s
    FROM per_session GROUP BY n_events
    """,
)
def events_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    ep = epoch_of(e)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    prev_ts = F.lag("ts").over(w)
    new_session = F.when(
        prev_ts.isNull() | ((ep(F.col("ts")) - ep(prev_ts)) > 1800),
        F.lit(1),
    ).otherwise(F.lit(0))
    per_session = (
        e.withColumn("session_seq", F.sum(new_session).over(wsum))
        .groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            (ep(F.max("ts")) - ep(F.min("ts"))).alias("duration_s"),
        )
    )
    return per_session.groupBy("n_events").agg(
        F.count("*").alias("n_sessions"),
        F.sum("duration_s").alias("total_duration_s"),
        F.max("duration_s").alias("max_duration_s"),
    )


# ---------------------------------------------------------------------------
# Heavy-hitter profiling: exact top-k keys by row count — the skew probe
# that decides whether a join needs salting (operators/skew.py) and what
# the salt factor should be. Scale shape: hash-agg with map-side combine
# (one shuffle of partial counts), then TakeOrderedAndProject for the
# top-k — the per-key counts are never globally sorted.
# ---------------------------------------------------------------------------
@query(
    "profile_heavy_hitters",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events
    FROM events GROUP BY user_id
    ORDER BY n_events DESC, user_id
    LIMIT 20
    """,
)
def profile_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
        .orderBy(F.col("n_events").desc(), "user_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Salted skew join (SURVEY §7 "100 TB posture", end-to-end): events are
# heavily skewed by user_id (see profile_heavy_hitters); joining them to
# a per-user dimension with operators/skew.py::salted_join spreads each
# hot key over 8 reducers. Results are row-identical to the plain join —
# which is exactly what the oracle states, so the driver hash-checks
# that the salting machinery is a pure execution-shape change.
# ---------------------------------------------------------------------------
@query(
    "j6_salted_skew_join",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_mktsegment
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def j6_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql2psql_spark.operators.skew import salted_join

    e = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return salted_join(e, c, on="user_id", salts=8).select(
        "event_id", "user_id", "c_mktsegment"
    )


# ---------------------------------------------------------------------------
# Watermark late-data policy, batch-checkable: each event "arrives"
# event_id % 900 seconds after it happened (deterministic synthetic
# transport delay); a 5-minute tumbling aggregation with a 10-minute
# watermark KEEPS an event iff it arrives before its window's close +
# watermark — the exact row Structured Streaming would still fold into
# the window state. The oracle states the same predicate, so the
# driver checks the engine's late-data semantics, not just its happy
# path. (The streaming twin is tumbling_counts_stream; watermark
# behavior there is pinned in test_streaming.)
# ---------------------------------------------------------------------------
@query(
    "stream_late_data_policy",
    oracle="""
    WITH arr AS (
      SELECT event_id,
             (CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 300) * 300 AS win_start,
             CAST(FLOOR(EPOCH(ts)) AS BIGINT) + (event_id % 900) AS arrival_epoch
      FROM events
    )
    SELECT win_start,
           COUNT(*) FILTER (WHERE arrival_epoch <= win_start + 300 + 600) AS n_kept,
           COUNT(*) FILTER (WHERE arrival_epoch >  win_start + 300 + 600) AS n_dropped_late
    FROM arr GROUP BY win_start
    """,
)
def stream_late_data_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    ep = epoch_of(e)
    win_start = (F.floor(ep("ts") / 300) * 300).cast("long")
    arrival = ep("ts") + (F.col("event_id") % 900)
    kept = F.sum(
        F.when(F.col("arrival_epoch") <= F.col("win_start") + 300 + 600, 1).otherwise(0)
    )
    return (
        e.select(win_start.alias("win_start"), arrival.alias("arrival_epoch"))
        .groupBy("win_start")
        .agg(
            kept.alias("n_kept"),
            (F.count("*") - kept).alias("n_dropped_late"),
        )
    )


# ---------------------------------------------------------------------------
# Event-path mining: the per-source Markov transition matrix over each
# user's time-ordered event sequence (LEAD within user partitions ->
# global bigram counts + next-step probabilities). The window partitions
# by user_id, so the sort is per-user-history-sized, never global; the
# transition aggregate is |event_types|^2 rows and the probability
# denominator is a window over THAT tiny frame — corpus scanned once.
# Ordering inside a user is (ts, event_id), total because event_id is
# unique, so both engines sequence ties identically; p_next divides the
# same exact integers on both sides.
# ---------------------------------------------------------------------------
@query(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_type
      FROM events
    ),
    tr AS (
      SELECT event_type AS src_type, next_type AS dst_type,
             CAST(COUNT(*) AS BIGINT) AS n_transitions
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT src_type, dst_type, n_transitions,
           ROUND(n_transitions /
                 CAST(SUM(n_transitions) OVER (PARTITION BY src_type) AS BIGINT),
                 6) AS p_next
    FROM tr
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    seq = W.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        e.select("user_id", "ts", "event_id", "event_type")
        .withColumn("next_type", F.lead("event_type").over(seq))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("src_type"), F.col("next_type").alias("dst_type")
        )
        .agg(F.count("*").alias("n_transitions"))
    )
    denom = F.sum("n_transitions").over(W.partitionBy("src_type"))
    return tr.select(
        "src_type",
        "dst_type",
        "n_transitions",
        F.round(F.col("n_transitions") / denom, 6).alias("p_next"),
    )


# ---------------------------------------------------------------------------
# Volume-anomaly detection: flag 5-minute buckets whose event count sits
# more than 3 sample standard deviations from that event type's mean
# bucket count — the monitoring rollup an ingest pipeline alarms on.
# One corpus-keyed aggregation to (type, bucket) counts; the mean/var
# statistics are windows over THAT tiny frame (|types| x |buckets|).
#
# The 3-sigma test is evaluated in EXACT integer arithmetic on decimal:
#   |n - S/k| > 3*sqrt((kQ - S^2)/(k(k-1)))
#     <=>  (nk - S)^2 (k-1) > 9 k (kQ - S^2)
# with S = sum(n), Q = sum(n^2), k = bucket count per type. Both engines
# compare identical integers (Spark: decimal(38,0); DuckDB: HUGEINT), so
# the boolean can never flake on a float ulp at the 3-sigma boundary —
# stddev_samp on each side would accumulate in different orders.
# ---------------------------------------------------------------------------
@query(
    "events_anomaly_buckets",
    oracle="""
    WITH b AS (
      SELECT event_type,
             (CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 300) * 300 AS bucket_start,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    st AS (
      SELECT event_type, bucket_start, n_events,
             CAST(SUM(n_events) OVER w AS HUGEINT) AS s,
             CAST(SUM(n_events * n_events) OVER w AS HUGEINT) AS q,
             CAST(COUNT(*) OVER w AS HUGEINT) AS k
      FROM b WINDOW w AS (PARTITION BY event_type)
    )
    SELECT event_type, bucket_start, n_events,
           (k > 1 AND
            (n_events * k - s) * (n_events * k - s) * (k - 1)
              > 9 * k * (k * q - s * s)) AS is_anomaly
    FROM st
    """,
)
def events_anomaly_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    ep = epoch_of(e)
    bucket = (F.floor(ep("ts") / 300) * 300).cast("long")
    counts = e.groupBy(
        "event_type", bucket.alias("bucket_start")
    ).agg(F.count("*").alias("n_events"))
    w = W.partitionBy("event_type")

    def D(c: F.Column) -> F.Column:
        return c.cast("decimal(38,0)")

    s = F.sum("n_events").over(w)
    q = F.sum(F.col("n_events") * F.col("n_events")).over(w)
    k = F.count("*").over(w)
    dev = D(F.col("n_events")) * D(k) - D(s)
    lhs = dev * dev * D(k - 1)
    rhs = F.lit(9) * D(k) * (D(k) * D(q) - D(s) * D(s))
    return counts.select(
        "event_type",
        "bucket_start",
        "n_events",
        ((k > 1) & (lhs > rhs)).alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# Column profiling: per-column row/null/distinct counts over orders —
# the validation pass a migrator runs before and after a load to prove
# nothing was dropped or nulled in transit (the reference prints only
# per-phase wall times; this is the data-level counterpart). ONE corpus
# scan computes every column's aggregates side by side (count/distinct
# per column in a single hash-agg-free pass), then a row-local unpivot
# reshapes to one row per column — no second scan, no shuffle besides
# the single global aggregate.
# ---------------------------------------------------------------------------
_PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderpriority",
)


@query(
    "profile_table_stats",
    oracle="""
    SELECT col, n_rows, n_nulls, n_distinct FROM (
    """
    + "\nUNION ALL\n".join(
        f"""    SELECT '{c}' AS col, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct
        FROM orders"""
        for c in _PROFILE_COLS
    )
    + "\n    )",
)
def profile_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    aggs = [F.count("*").alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"nn_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"nd_{c}"))
    one = o.agg(*aggs)
    stacked = one.select(
        F.expr(
            "stack("
            + str(len(_PROFILE_COLS))
            + ", "
            + ", ".join(f"'{c}', nn_{c}, nd_{c}" for c in _PROFILE_COLS)
            + ") as (col, n_nulls, n_distinct)"
        ),
        F.col("n_rows"),
    )
    return stacked.select("col", "n_rows", "n_nulls", "n_distinct")


# ---------------------------------------------------------------------------
# Nearest-within-tolerance as-of join (j5's two-sided sibling): for each
# event, the SAME USER's order closest in time — before or after — within
# 3 days; distance ties prefer the earlier order. operators/asof.py::
# asof_nearest computes both direction candidates in ONE union + window
# pass (never the |pairs-in-window| blow-up of a range join); the oracle
# spells the identical semantics as a ranked ABS-distance inequality
# join with the same side/tiebreak preference, LEFT-joined back so
# no-match events survive with NULLs.
# ---------------------------------------------------------------------------
@query(
    "j7_asof_nearest_order",
    oracle="""
    WITH ev AS (SELECT event_id, user_id,
                       CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS et FROM events),
    od AS (SELECT o_custkey, o_orderkey,
                  CAST(FLOOR(EPOCH(o_orderdate)) AS BIGINT) AS ot FROM orders),
    cand AS (
      SELECT ev.event_id, od.o_orderkey, ev.et - od.ot AS delta,
             ROW_NUMBER() OVER (
               PARTITION BY ev.event_id
               ORDER BY ABS(ev.et - od.ot) ASC,
                        CASE WHEN od.ot <= ev.et THEN 0 ELSE 1 END ASC,
                        CASE WHEN od.ot <= ev.et THEN -od.o_orderkey
                             ELSE od.o_orderkey END ASC
             ) AS rn
      FROM ev JOIN od ON od.o_custkey = ev.user_id
                     AND ABS(ev.et - od.ot) <= 259200
    )
    SELECT e.event_id, e.user_id,
           c.o_orderkey AS nearest_orderkey,
           c.delta AS delta_seconds
    FROM ev e LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c
      ON c.event_id = e.event_id
    """,
)
def j7_asof_nearest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mysql2psql_spark.operators.asof import asof_nearest

    e = load_table(spark, sf_dir, "events")
    ep_e = epoch_of(e)
    ev = e.select("event_id", "user_id", ep_e("ts").alias("et"))
    o = load_table(spark, sf_dir, "orders")
    ep_o = epoch_of(o, "o_orderdate")
    od = o.select(
        F.col("o_custkey").alias("user_id"),
        "o_orderkey",
        ep_o("o_orderdate").alias("ot"),
    )
    joined = asof_nearest(
        ev,
        od,
        key="user_id",
        left_time="et",
        right_time="ot",
        payload=["o_orderkey"],
        tolerance=259_200,
        tiebreak="o_orderkey",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("o_orderkey").alias("nearest_orderkey"),
        F.col("_asof_delta").alias("delta_seconds"),
    )


# ---------------------------------------------------------------------------
# Bot detection by burst rate (the traffic-hygiene filter run before any
# engagement data enters a training mix): a user is flagged when any
# 60-second tumbling bucket holds >= 3 of their events. Two uniform
# hash aggregations — (user, bucket) then user — no windows over raw
# events, no skew (bucket keys are time-sharded within each user).
# ---------------------------------------------------------------------------
@query(
    "events_bot_detection",
    oracle="""
    WITH b AS (
      SELECT user_id,
             CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 60 AS bucket,
             COUNT(*) AS n
      FROM events
      GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(MAX(n) AS BIGINT) AS peak_per_minute,
           CAST(SUM(n) AS BIGINT) AS total_events,
           (MAX(n) >= 3) AS flagged
    FROM b
    GROUP BY user_id
    """,
)
def events_bot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    ep = epoch_of(e)
    b = e.groupBy(
        "user_id", (ep("ts") / 60).cast("bigint").alias("bucket")
    ).agg(F.count("*").alias("n"))
    return b.groupBy("user_id").agg(
        F.max("n").alias("peak_per_minute"),
        F.sum("n").alias("total_events"),
        (F.max("n") >= 3).alias("flagged"),
    )


# ---------------------------------------------------------------------------
# RFM feature vector (recency / frequency / monetary) per user — the
# canonical per-entity feature-engineering aggregate feeding a training
# table. One uniform user-keyed hash aggregate; recency is computed
# against the corpus max timestamp, which rides a window over the
# ALREADY-AGGREGATED |users|-row frame (the Q11/Q15 scalar
# decorrelation), never a second scan of the events fact.
# ---------------------------------------------------------------------------
@query(
    "events_rfm_features",
    oracle="""
    WITH u AS (
      SELECT user_id,
             MAX(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) AS last_seen,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(ROUND(SUM(CASE WHEN event_type = 'purchase'
                                 THEN CAST(value AS DECIMAL(12,4))
                                 ELSE CAST(0 AS DECIMAL(12,4)) END), 2)
                  AS DOUBLE) AS monetary
      FROM events
      GROUP BY user_id
    )
    SELECT user_id,
           MAX(last_seen) OVER () - last_seen AS recency_seconds,
           frequency, monetary
    FROM u
    """,
)
def events_rfm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    ep = epoch_of(e)
    zero = F.lit(0).cast("decimal(12,4)")
    u = e.groupBy("user_id").agg(
        F.max(ep("ts")).alias("last_seen"),
        F.count("*").alias("frequency"),
        F.round(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase", _dec("value")
                ).otherwise(zero)
            ),
            2,
        )
        .cast("double")
        .alias("monetary"),
    )
    return u.select(
        "user_id",
        (F.max("last_seen").over(Window.partitionBy()) - F.col("last_seen")).alias(
            "recency_seconds"
        ),
        "frequency",
        "monetary",
    )


# ---------------------------------------------------------------------------
# Time-RANGE window frame (w6): per-user rolling 1-hour activity — the
# feature-engineering shape behind rate limits and burst features. Unlike
# w3's ROWS frame, a RANGE frame bounds the window by the ORDER-BY VALUE
# (here epoch seconds), so rows landing on the same second are peers and
# the frame is deterministic regardless of within-second tie order — the
# property that makes the query exactly differential against the oracle.
# Plan: one hash exchange on user_id + per-partition sort; no self-join,
# no explode — the 100 TB cost is a single keyed shuffle.
# ---------------------------------------------------------------------------
@query(
    "w6_time_range_rolling",
    oracle="""
    WITH t AS (
      SELECT user_id, event_id,
             CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS ts_epoch,
             value
      FROM events
    )
    SELECT user_id, event_id, ts_epoch,
           COUNT(*) OVER w AS n_events_1h,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(12,4))) OVER w, 2) AS DOUBLE)
             AS sum_value_1h
    FROM t
    WINDOW w AS (
      PARTITION BY user_id ORDER BY ts_epoch
      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
    )
    """,
)
def w6_time_range_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    ep = epoch_of(e)
    t = e.select("user_id", "event_id", ep("ts").alias("ts_epoch"), "value")
    w = W.partitionBy("user_id").orderBy("ts_epoch").rangeBetween(-3600, 0)
    return t.select(
        "user_id",
        "event_id",
        "ts_epoch",
        F.count("*").over(w).alias("n_events_1h"),
        F.round(F.sum(_dec("value")).over(w), 2).cast("double").alias("sum_value_1h"),
    )


# ---------------------------------------------------------------------------
# Windowed approximate-distinct users (the live-dashboard sketch): HLL
# unique-user counts per 15-minute tumbling bucket — the metric a
# streaming pipeline emits when exact windowed distinct would hold a
# per-window user set in state. At 100 TB the HLL register block is a
# constant ~KB per (bucket) group and merges associatively, so the agg
# stays map-side-combining with no distinct shuffle of raw user ids;
# the exact twin (one extra distinct agg here, absent in production)
# makes the check deterministic. ``approx_ok`` is a PER-ENGINE
# self-assertion, not a cross-sketch agreement: Spark's HLL (rsd=0.01)
# and DuckDB's sketch are different implementations, so each engine
# asserts only that ITS OWN estimate sits inside a deliberately generous
# band — GREATEST(5, 10% of exact). Both sketches resolve tiny
# cardinalities exactly (sparse mode) and stay within ~2.5% on large
# ones, so the band holds by a wide margin per engine and the hashed
# boolean cannot flake on distribution or rsd drift (r5 advice: the
# previous +-max(2,5%) band only matched while both engines
# independently landed inside it).
# ---------------------------------------------------------------------------
@query(
    "stream_window_approx_users",
    oracle="""
    SELECT (CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 900) * 900 AS bucket_start,
           COUNT(DISTINCT user_id) AS exact_users,
           ABS(approx_count_distinct(user_id) - COUNT(DISTINCT user_id))
             <= GREATEST(5, 0.10 * COUNT(DISTINCT user_id)) AS approx_ok
    FROM events
    GROUP BY 1
    """,
)
def stream_window_approx_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    ep = epoch_of(e)
    bucket = ((ep("ts") / 900).cast("bigint") * 900).alias("bucket_start")
    agg = e.groupBy(bucket).agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.01).alias("_approx"),
    )
    return agg.select(
        "bucket_start",
        "exact_users",
        (
            F.abs(F.col("_approx") - F.col("exact_users"))
            <= F.greatest(F.lit(5.0), 0.10 * F.col("exact_users"))
        ).alias("approx_ok"),
    )


# ---------------------------------------------------------------------------
# Hypertable-style time-hierarchy rollup: hour- AND day-grain continuous
# aggregates computed in ONE pass over the events stream via GROUPING
# SETS — the multi-resolution downsampling a time-series store
# materializes continuously. A naive implementation scans the fact table
# once per grain; GROUPING SETS expands each input row to its grain
# combinations inside the aggregate (Spark: Expand + single
# HashAggregate), so at 100 TB the raw events are read and shuffled
# once, with map-side partials per grain. The grain label derives from
# GROUPING() so the row set is self-describing and exactly differential.
# ---------------------------------------------------------------------------
@query(
    "events_hypertable_rollup",
    oracle="""
    WITH t AS (
      SELECT event_type,
             (CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 3600) * 3600 AS hour_bucket,
             (CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 86400) * 86400 AS day_bucket,
             value
      FROM events
    )
    SELECT CASE WHEN GROUPING(hour_bucket) = 0 THEN 'hour' ELSE 'day' END AS grain,
           COALESCE(hour_bucket, day_bucket) AS bucket_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE) AS sum_value
    FROM t
    GROUP BY GROUPING SETS ((event_type, hour_bucket), (event_type, day_bucket))
    """,
)
def events_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    ep = epoch_of(e)
    t = e.select(
        "event_type",
        ((ep("ts") / 3600).cast("bigint") * 3600).alias("hour_bucket"),
        ((ep("ts") / 86400).cast("bigint") * 86400).alias("day_bucket"),
        "value",
    )
    t.createOrReplaceTempView("events_rollup_src")
    return t.sparkSession.sql(
        """
        SELECT CASE WHEN GROUPING(hour_bucket) = 0 THEN 'hour' ELSE 'day' END AS grain,
               COALESCE(hour_bucket, day_bucket) AS bucket_start,
               event_type,
               COUNT(*) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(12,4))), 2) AS DOUBLE) AS sum_value
        FROM events_rollup_src
        GROUP BY GROUPING SETS ((event_type, hour_bucket), (event_type, day_bucket))
        """
    )


# ---------------------------------------------------------------------------
# Per-type value percentile bands (a7): exact interpolated p50/p95/p99 —
# the latency/size SLO report an observability pipeline emits per metric
# family. Spark's `percentile` and DuckDB's `quantile_cont` implement the
# same linear interpolation (bit-identical on this data, probed for the
# winsorize operator); ROUND(...,6) absorbs the last-ulp risk. Exact
# percentiles need the full value multiset per group — one key-hash
# exchange; groups are metric families (tiny), rows within a group large
# — this is the exact-tier companion to agg_approx_quantiles' sketch
# tier, which is the right choice when groups outgrow executor memory.
# ---------------------------------------------------------------------------
@query(
    "a7_value_percentiles",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           ROUND(quantile_cont(value, 0.50), 6) AS p50,
           ROUND(quantile_cont(value, 0.95), 6) AS p95,
           ROUND(quantile_cont(value, 0.99), 6) AS p99
    FROM events
    GROUP BY event_type
    """,
)
def a7_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.expr("percentile(value, 0.50)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


# ---------------------------------------------------------------------------
# QUEUED (r14/r15 registration per the window budget): population-
# stability drift between the two time halves of the event stream — the
# monitoring query a production pipeline runs before trusting a new data
# window (feature drift gates retraining; schema-stable-but-shifted
# distributions are invisible to row counts). Two dimensions in one
# result: the categorical event_type mix and a fixed 10-bin histogram of
# `value` over the global [min, max]. Per (dim, bucket): raw counts,
# shares, and the PSI term (p_a - p_b) * ln(p_a / p_b) under Laplace
# smoothing (+1 per bucket), so one-sided-empty buckets stay finite and
# the per-dim SUM of psi_term is the standard PSI statistic
# (<0.1 stable / 0.1-0.25 drifting / >0.25 shifted).
#
# Scale shape: ONE 4-value bounds aggregate broadcast back over the
# scan, ONE (dim, bucket)-keyed hash agg with map-side combine (output
# is O(buckets), never O(rows)), and a window over the ≤|buckets| result
# frame. The dim fan-out is an explode of a 2-element literal array, so
# the corpus is scanned ONCE (a UNION of per-dim selects would scan it
# per dim). Determinism: every share/PSI input derives from BIGINT
# counts, so both engines divide identical doubles; LN of identical
# doubles + ROUND 6dp is the engine-standard guard (the surprisal
# queries' class). Documented limit: a constant `value` column would put
# vmx = vmn (division by zero) — real event streams never trip it.
#
# r13 verification record (the queue contract): DuckDB-exact under a
# vanilla session at sf0.001 (15 rows), sf0.01 (14 rows), and sf0.1
# (15 rows); planted-shift direction test pinned (event-type PSI > 0.25
# on a 90/10 -> 30/70 flip while the unchanged value mix stays < 0.1);
# 5x events replica probe: wall x1.0 (output constant); first 7-rep
# interleaved median 0.519 s at sf0.1 (loadavg 5-10, controls
# s4/minhash_lsh at 1.21x/0.99x their floors in the same reps).
# ---------------------------------------------------------------------------
_ORACLE_DRIFT_PSI = """
    WITH ev AS (SELECT CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS et,
                       event_type, value FROM events),
    bounds AS (SELECT MIN(et) AS mn, MAX(et) AS mx,
                      MIN(value) AS vmn, MAX(value) AS vmx FROM ev),
    tagged AS (
      SELECT CASE WHEN 2 * et <= mn + mx THEN 0 ELSE 1 END AS period,
             event_type,
             CAST(LEAST(CAST(FLOOR((value - vmn) * 10 / (vmx - vmn)) AS BIGINT),
                        9) AS VARCHAR) AS decile
      FROM ev CROSS JOIN bounds
    ),
    buckets AS (
      SELECT 'event_type' AS dim, event_type AS bucket, period FROM tagged
      UNION ALL
      SELECT 'value_decile' AS dim, decile AS bucket, period FROM tagged
    ),
    counts AS (
      SELECT dim, bucket,
             CAST(SUM(CASE WHEN period = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM buckets GROUP BY dim, bucket
    ),
    tot AS (
      SELECT dim, bucket, n_a, n_b,
             CAST(SUM(n_a) OVER (PARTITION BY dim) AS BIGINT) AS tot_a,
             CAST(SUM(n_b) OVER (PARTITION BY dim) AS BIGINT) AS tot_b,
             CAST(COUNT(*) OVER (PARTITION BY dim) AS BIGINT) AS nb
      FROM counts
    )
    SELECT dim, bucket, n_a, n_b,
           ROUND(CAST(n_a AS DOUBLE) / tot_a, 6) AS share_a,
           ROUND(CAST(n_b AS DOUBLE) / tot_b, 6) AS share_b,
           ROUND((CAST(n_a + 1 AS DOUBLE) / (tot_a + nb)
                  - CAST(n_b + 1 AS DOUBLE) / (tot_b + nb))
                 * LN((CAST(n_a + 1 AS DOUBLE) / (tot_a + nb))
                      / (CAST(n_b + 1 AS DOUBLE) / (tot_b + nb))), 6) AS psi_term
    FROM tot
"""


@query("profile_drift_psi", oracle=_ORACLE_DRIFT_PSI)
def profile_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability drift per (dimension, bucket) between the
    first and second time halves of `events` — see the block above.
    Built from the shared primitives in operators/drift.py (bucketize ->
    associative counts -> PSI tail) so the streaming gate
    (streaming/events.py::drift_counts_foreach_batch) is the SAME
    computation over micro-batch count partials; exactness re-verified
    at all three SFs after the factoring."""
    from mysql2psql_spark.operators.drift import (
        drift_bounds,
        drift_counts,
        drift_psi_tail,
        drift_tagged,
    )

    e = load_table(spark, sf_dir, "events")
    ep = epoch_of(e)
    ev = e.select(ep("ts").alias("et"), "event_type", "value")
    counts = drift_counts(drift_tagged(ev, drift_bounds(ev)))
    return drift_psi_tail(counts)


# ---------------------------------------------------------------------------
# The streaming PSI drift gate's streamed-equals-batch audit row
# (streaming/audit.py::stream_batch_audit): streaming/events.py::
# drift_counts_foreach_batch runs on two event_id-parity micro-batches
# with the bounds frozen over the full window, and the summary
# read_drift_summary compacts is compared to the batch twin,
# profile_drift_psi, on all five value columns. Counts are associative
# and the PSI tail is a function of the summed counts, so streamed ==
# batch for any split of the same rows.
#
# Scale shape: per-trigger cost is one batch-sized scan reduced to a
# bucket-sized count partial; the audit join is bucket-sized.
# ---------------------------------------------------------------------------
_ORACLE_STREAM_DRIFT = f"""
    WITH psi AS ({_ORACLE_DRIFT_PSI})
    SELECT CAST(2 AS BIGINT) AS n_triggers,
           CAST(COUNT(*) AS BIGINT) AS stream_rows,
           CAST(COUNT(*) AS BIGINT) AS batch_rows,
           CAST(0 AS BIGINT) AS only_stream,
           CAST(0 AS BIGINT) AS only_batch,
           CAST(0 AS BIGINT) AS value_mismatches
    FROM psi
"""


@query("stream_drift_summary", oracle=_ORACLE_STREAM_DRIFT)
def stream_drift_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed-equals-batch audit for the foreachBatch PSI drift gate —
    see the block above."""
    from mysql2psql_spark.operators.drift import drift_bounds
    from mysql2psql_spark.streaming.audit import audit_dir, stream_batch_audit
    from mysql2psql_spark.streaming.events import (
        drift_counts_foreach_batch,
        read_drift_summary,
    )

    e = load_table(spark, sf_dir, "events")
    ep = epoch_of(e)
    bounds = drift_bounds(e.select(ep("ts").alias("et"), "event_type", "value"))
    return stream_batch_audit(
        spark,
        "stream_drift_summary",
        audit_dir(spark, "stream_drift", sf_dir),
        e,
        "event_id",
        make_gate=lambda out_dir, lineage: drift_counts_foreach_batch(
            bounds, out_dir, lineage=lineage
        ),
        read=lambda out_dir: read_drift_summary(spark, out_dir),
        twin=lambda: profile_drift_psi(spark, sf_dir),
        keys=["dim", "bucket"],
        vals=["n_a", "n_b", "share_a", "share_b", "psi_term"],
    )


# ---------------------------------------------------------------------------
# QUEUED (r14+ registration per the window budget): CUSUM changepoint
# detection per event type — profile_drift_psi's companion: PSI says
# THAT the window shifted, CUSUM says WHEN. Hourly counts on a DENSE
# bucket spine (absent hours count 0 — skipping them biases the
# statistic), then the classic mean-shift CUSUM: S_t = cum_t - t * mu
# with mu the per-type mean bucket count; the changepoint is the bucket
# maximizing |S_t| (earliest on ties), reported with the stat and the
# before/after mean levels.
#
# Scale shape: ONE (type, bucket)-keyed count with map-side combine is
# the only corpus-sized work (output O(types x hours)); the spine
# (sequence + explode of a 1-row bounds broadcast), the zero-fill join,
# and every window run on that post-agg frame. Determinism: counts are
# BIGINTs, mu/S_t derive from them identically in both engines, and the
# argmax orders by the identically-derived double with a bucket
# tiebreak.
#
# r13 verification record (the queue contract): DuckDB-exact under a
# vanilla session at sf0.001/sf0.01/sf0.1 (5 rows each); planted-shift
# direction pinned (a 3x rate step lands cp_bucket at the last
# pre-shift hour — where S_t peaks — with stat > 10x the constant
# stream's, and mean_after > 2x mean_before); 5x events replica probe:
# wall x1.0 (output constant — the hash agg is the only corpus work);
# first 7-rep interleaved median 0.567 s at sf0.1 (loadavg 1.8,
# control s4 at its floor in the same reps).
# ---------------------------------------------------------------------------
_ORACLE_CHANGEPOINT = """
    WITH ev AS (SELECT event_type,
                       (CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 3600) * 3600 AS b
                FROM events),
    bounds AS (SELECT MIN(b) AS mn, MAX(b) AS mx FROM ev),
    spine AS (
      SELECT t.event_type, r.b
      FROM (SELECT DISTINCT event_type FROM ev) t
      CROSS JOIN (SELECT UNNEST(RANGE(mn, mx + 1, 3600)) AS b FROM bounds) r
    ),
    cnt AS (SELECT event_type, b, CAST(COUNT(*) AS BIGINT) AS x
            FROM ev GROUP BY event_type, b),
    dense AS (
      SELECT s.event_type, s.b, COALESCE(c.x, 0) AS x
      FROM spine s LEFT JOIN cnt c ON c.event_type = s.event_type AND c.b = s.b
    ),
    w AS (
      SELECT event_type, b, x,
             CAST(SUM(x) OVER (PARTITION BY event_type ORDER BY b
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY b)
                  AS BIGINT) AS t,
             CAST(SUM(x) OVER (PARTITION BY event_type) AS BIGINT) AS tot,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS nb
      FROM dense
    ),
    s AS (
      SELECT event_type, b, t, nb, cum, tot,
             ABS(cum - t * (CAST(tot AS DOUBLE) / nb)) AS dev,
             ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY ABS(cum - t * (CAST(tot AS DOUBLE) / nb)) DESC, b
             ) AS rk
      FROM w
    )
    SELECT event_type,
           nb AS n_buckets,
           b AS cp_bucket,
           ROUND(dev, 6) AS cusum_stat,
           ROUND(CAST(cum AS DOUBLE) / t, 6) AS mean_before,
           CASE WHEN nb > t
                THEN ROUND(CAST(tot - cum AS DOUBLE) / (nb - t), 6) END
             AS mean_after
    FROM s WHERE rk = 1
"""


@query("events_changepoint", oracle=_ORACLE_CHANGEPOINT)
def events_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type CUSUM changepoint over hourly event counts — see the
    block above."""
    e = load_table(spark, sf_dir, "events")
    ep = epoch_of(e)
    ev = e.select("event_type", ep("ts").alias("_et")).select(
        "event_type", (F.expr("_et div 3600") * 3600).alias("b")
    )
    bounds = ev.agg(F.min("b").alias("mn"), F.max("b").alias("mx"))
    types = ev.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(bounds)).select(
        "event_type", F.explode(F.sequence("mn", "mx", F.lit(3600))).alias("b")
    )
    cnt = ev.groupBy("event_type", "b").agg(F.count("*").cast("bigint").alias("x"))
    dense = spine.join(cnt, ["event_type", "b"], "left").select(
        "event_type", "b", F.coalesce(F.col("x"), F.lit(0)).cast("bigint").alias("x")
    )
    ord_w = W.partitionBy("event_type").orderBy("b").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    all_w = W.partitionBy("event_type")
    w = dense.select(
        "event_type",
        "b",
        F.sum("x").over(ord_w).cast("bigint").alias("cum"),
        F.row_number().over(W.partitionBy("event_type").orderBy("b")).cast("bigint").alias("t"),
        F.sum("x").over(all_w).cast("bigint").alias("tot"),
        F.count("*").over(all_w).cast("bigint").alias("nb"),
    )
    dev = F.abs(F.col("cum") - F.col("t") * (F.col("tot").cast("double") / F.col("nb")))
    s = w.select(
        "event_type", "b", "t", "nb", "cum", "tot", dev.alias("dev"),
        F.row_number()
        .over(W.partitionBy("event_type").orderBy(dev.desc(), "b"))
        .alias("rk"),
    )
    return s.filter(F.col("rk") == 1).select(
        "event_type",
        F.col("nb").alias("n_buckets"),
        F.col("b").alias("cp_bucket"),
        F.round(F.col("dev"), 6).alias("cusum_stat"),
        F.round(F.col("cum").cast("double") / F.col("t"), 6).alias("mean_before"),
        F.when(
            F.col("nb") > F.col("t"),
            F.round(
                (F.col("tot") - F.col("cum")).cast("double") / (F.col("nb") - F.col("t")),
                6,
            ),
        ).alias("mean_after"),
    )


# ---------------------------------------------------------------------------
# The exactly-once CDC sink's streamed-equals-batch audit row
# (streaming/audit.py::stream_batch_audit): streaming/events.py::
# cdc_foreach_batch_sink writes two event_id-parity micro-batches,
# compact_cdc_log resolves the changelog (latest op per key, tombstones
# drop the key), and the result is compared to the batch twin,
# m4_cdc_apply. The resolution is a function of the row set alone, so
# streamed == batch for any split.
#
# Scale shape: per-trigger cost is one batch-sized parquet write; the
# compaction is one key-hash exchange with a per-key history sort; the
# audit join is users x users on the key.
# ---------------------------------------------------------------------------
_ORACLE_STREAM_CDC = """
    WITH cur AS (
      SELECT user_id,
             event_type AS last_event_type,
             CAST(ROUND(CAST(value AS DECIMAL(12,4)), 2) AS DOUBLE) AS cur_value,
             CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS last_ts
      FROM (
        SELECT user_id, ts, event_id, value, event_type,
               CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
               ROW_NUMBER() OVER (
                 PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
      )
      WHERE rn = 1 AND op = 'U'
    )
    SELECT CAST(2 AS BIGINT) AS n_triggers,
           CAST(COUNT(*) AS BIGINT) AS stream_rows,
           CAST(COUNT(*) AS BIGINT) AS batch_rows,
           CAST(0 AS BIGINT) AS only_stream,
           CAST(0 AS BIGINT) AS only_batch,
           CAST(0 AS BIGINT) AS value_mismatches
    FROM cur
"""


@query("stream_cdc_apply_summary", oracle=_ORACLE_STREAM_CDC)
def stream_cdc_apply_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed-equals-batch audit for the exactly-once CDC sink — see
    the block above."""
    from mysql2psql_spark.queries.migration_q import m4_cdc_apply
    from mysql2psql_spark.streaming.audit import audit_dir, stream_batch_audit
    from mysql2psql_spark.streaming.events import (
        cdc_foreach_batch_sink,
        compact_cdc_log,
    )

    return stream_batch_audit(
        spark,
        "stream_cdc_apply_summary",
        audit_dir(spark, "stream_cdc", sf_dir),
        load_table(spark, sf_dir, "events"),
        "event_id",
        make_gate=lambda out_dir, lineage: cdc_foreach_batch_sink(
            out_dir, lineage=lineage
        ),
        read=lambda out_dir: compact_cdc_log(spark, out_dir),
        twin=lambda: m4_cdc_apply(spark, sf_dir),
        keys=["user_id"],
        vals=["last_event_type", "cur_value", "last_ts"],
    )


# ---------------------------------------------------------------------------
# REGISTERED r16 (queued r15): two-sample
# Kolmogorov-Smirnov drift per event type (operators/drift.py::
# ks_two_sample) — the drift family's third statistic: PSI says how the
# BINNED distribution moved (and needs bins), CUSUM says WHEN the rate
# moved, KS compares the full empirical CDFs of a continuous value and
# catches within-bin shifts PSI is blind to. Same midpoint split as the
# PSI gate (period a iff et*2 <= mn+mx), and the statistic is reported
# as the INTEGER numerator of sup|F_a - F_b| over the common
# denominator n_a*n_b — max over observed values of
# |cum_a*n_b - cum_b*n_a| — so every value is an exact integer and the
# argmax location is pinned by (diff DESC, value ASC).
#
# Scale shape: one map-side-combined (type, value) count agg is the
# only corpus-sized work; the ECDF and argmax windows run on the
# aggregated per-type value table (the events_changepoint class).
# decimal(38,0) internal products: exact to n_a*n_b < 2^63, loudly
# RAISING beyond (the guarded cast in ks_tail), never silently wrapped.
#
# r15 verification record (the queue contract): DuckDB-exact under a
# vanilla session at sf0.001/sf0.01/sf0.1 (5 rows each; rendered hashes
# identical at all three); direction pinned on a planted location shift
# (+delta to every period-b value must strictly raise ks_num while the
# unshifted control stays put) and on a pure-python ECDF replay over
# arbitrary tie-heavy streams (hypothesis, integer grid). 5x events
# replica probe: wall FLAT at 5x rows (0.82 vs 0.90 s — replicas
# duplicate VALUES, so the (type, value) table is unchanged and the
# map-side combine absorbs the row growth). The value-DIVERSITY axis
# was probed separately (r15): replicas with 2^-13-perturbed values
# grow the ECDF table exactly 5x (49,089 -> 245,445 distinct values)
# and the wall stays FLAT (x0.85 in-session) — the post-agg per-type
# windows absorb it, the changepoint class as predicted. First 7-rep
# interleaved median 0.898 s at sf0.1 (loadavg
# ~1.7, control events_changepoint at 1.23x its floor in the same
# reps).
# ---------------------------------------------------------------------------
_ORACLE_KS_DRIFT = """
    WITH e AS (
      SELECT event_type, value, CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS et
      FROM events
    ),
    b AS (SELECT MIN(et) AS mn, MAX(et) AS mx FROM e),
    t AS (
      SELECT event_type, value,
             CASE WHEN et * 2 <= (SELECT mn + mx FROM b) THEN 0 ELSE 1 END AS period
      FROM e
    ),
    vc AS (
      SELECT event_type, value,
             CAST(SUM(CASE WHEN period = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(SUM(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM t GROUP BY event_type, value
    ),
    cum AS (
      SELECT event_type, value,
             SUM(ca) OVER (PARTITION BY event_type ORDER BY value) AS cum_a,
             SUM(cb) OVER (PARTITION BY event_type ORDER BY value) AS cum_b,
             SUM(ca) OVER (PARTITION BY event_type) AS n_a,
             SUM(cb) OVER (PARTITION BY event_type) AS n_b,
             COUNT(*) OVER (PARTITION BY event_type) AS n_values
      FROM vc
    ),
    d AS (
      SELECT event_type, value,
             CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
             CAST(n_values AS BIGINT) AS n_values,
             CAST(ABS(CAST(cum_a AS DECIMAL(38,0)) * n_b
                      - CAST(cum_b AS DECIMAL(38,0)) * n_a) AS BIGINT) AS diff
      FROM cum
    )
    SELECT event_type, n_a, n_b, n_values,
           diff AS ks_num, value AS ks_at_value
    FROM d
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY event_type ORDER BY diff DESC, value
    ) = 1
"""


@query("events_ks_drift", oracle=_ORACLE_KS_DRIFT)
def events_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS drift per event type — see the block above."""
    from mysql2psql_spark.operators.drift import ks_two_sample

    e = load_table(spark, sf_dir, "events")
    ep = epoch_of(e)
    ev = e.select("event_type", "value", ep("ts").alias("et"))
    return ks_two_sample(ev)


# ---------------------------------------------------------------------------
# The streaming KS gate's streamed-equals-batch audit row
# (streaming/audit.py::stream_batch_audit): streaming/events.py::
# ks_counts_foreach_batch runs on two event_id-parity micro-batches with
# the bounds frozen over the full window, and the statistic
# read_ks_summary compacts is compared to the batch twin,
# events_ks_drift. (key, value, period) counts are associative and
# ks_tail is a function of the summed counts, so streamed == batch for
# any split.
#
# Scale shape: per-trigger cost is one batch-sized scan reduced to a
# distinct-value-sized count partial; the audit join is types x types.
# ---------------------------------------------------------------------------
_ORACLE_STREAM_KS = f"""
    WITH ks AS ({_ORACLE_KS_DRIFT})
    SELECT CAST(2 AS BIGINT) AS n_triggers,
           CAST(COUNT(*) AS BIGINT) AS stream_rows,
           CAST(COUNT(*) AS BIGINT) AS batch_rows,
           CAST(0 AS BIGINT) AS only_stream,
           CAST(0 AS BIGINT) AS only_batch,
           CAST(0 AS BIGINT) AS value_mismatches
    FROM ks
"""


@query("stream_ks_summary", oracle=_ORACLE_STREAM_KS)
def stream_ks_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed-equals-batch audit for the foreachBatch KS gate — see
    the block above."""
    from mysql2psql_spark.streaming.audit import audit_dir, stream_batch_audit
    from mysql2psql_spark.streaming.events import (
        ks_counts_foreach_batch,
        read_ks_summary,
    )

    e = load_table(spark, sf_dir, "events")
    ep = epoch_of(e)
    bounds = e.select(ep("ts").alias("et")).agg(
        F.min("et").alias("mn"), F.max("et").alias("mx")
    )
    return stream_batch_audit(
        spark,
        "stream_ks_summary",
        audit_dir(spark, "stream_ks", sf_dir),
        e,
        "event_id",
        make_gate=lambda out_dir, lineage: ks_counts_foreach_batch(
            bounds, out_dir, lineage=lineage
        ),
        read=lambda out_dir: read_ks_summary(spark, out_dir),
        twin=lambda: events_ks_drift(spark, sf_dir),
        keys=["event_type"],
        vals=["n_a", "n_b", "n_values", "ks_num", "ks_at_value"],
    )
