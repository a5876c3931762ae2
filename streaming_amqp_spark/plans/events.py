"""Time-window / event queries — the reference's demonstrated streaming
query surface (SURVEY.md §2B) expressed over the ``events`` table.

The canonical reference query is "max temperature per 5-second tumbling
window" (`AMQPTemperature.scala:94-99`: ``reduceByWindow(max, 5s, 5s)``);
here it is the event-time formulation (``F.window``), which is also exactly
what the streaming layer runs with a watermark (streaming_amqp_spark.streaming).
Batch and streaming share these plan shapes — Structured Streaming's
incrementalization of the same logical plan is the point of the redesign.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from streaming_amqp_spark.envelope import body_as, events_as_envelope
from streaming_amqp_spark.functions.numeric import davg, dsum
from streaming_amqp_spark.plans.scalars import CMS_D, _cms_hashes
from streaming_amqp_spark.streaming.cms import CMS_TOPK_K
from streaming_amqp_spark.tables import load_table


def events_window_5s_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship: tumbling 5 s window, max value + count per window.
    ≡ reduceByWindow(max, 5 seconds, 5 seconds) at AMQPTemperature.scala:97.
    max() needs no rounding: it returns one of the input doubles verbatim."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "5 seconds").alias("w"))
        .agg(
            F.max("value").alias("max_value"),
            F.count("*").alias("n_events"),
        )
        .select(F.col("w.start").alias("window_start"), "max_value", "n_events")
    )


_W5S_SQL = """
SELECT time_bucket(INTERVAL 5 SECOND, ts) AS window_start,
       max(value) AS max_value,
       count(*) AS n_events
FROM events
GROUP BY 1
"""


def events_window_hourly_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value", "sum_value"),
            davg("value", "avg_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
            "avg_value",
        )
    )


_WHOUR_SQL = """
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
       event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(value) AS avg_value
FROM events
GROUP BY 1, 2
"""


def events_sliding_10m_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (10 min window, 5 min slide): each event lands in two
    overlapping windows.  The upgrade over the reference's tumbling-only
    reduceByWindow (its window==slide case, SURVEY §2B)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.max("value").alias("max_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "max_value")
    )


# Each event belongs to the two 5-min-aligned starts within (ts-10m, ts]:
_WSLIDE_SQL = """
SELECT window_start,
       count(*) AS n_events,
       max(value) AS max_value
FROM (
  SELECT time_bucket(INTERVAL 5 MINUTE, ts) - (off * INTERVAL 5 MINUTE)
           AS window_start,
         value, ts
  FROM events, UNNEST([0, 1]) AS t(off)
)
WHERE ts < window_start + INTERVAL 10 MINUTE AND ts >= window_start
GROUP BY window_start
"""


def events_sessionize_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: per-user sessions split on >30 min inactivity
    (lag + cumulative gap count — one shuffle on user_id).  The streaming
    twin is ``session_window`` (streaming_amqp_spark.streaming.windows)."""
    ev = load_table(spark, sf_dir, "events")
    w_order = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = w_order.rowsBetween(W.unboundedPreceding, 0)
    sess = (
        ev.withColumn("prev_ts", F.lag("ts").over(w_order))
        .withColumn(
            "new_sess",
            F.when(
                F.col("prev_ts").isNull()
                | (
                    F.col("ts").cast("double") - F.col("prev_ts").cast("double")
                    > 1800.0
                ),
                1,
            ).otherwise(0),
        )
        .withColumn("session_id", F.sum("new_sess").over(w_run))
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        dsum("value", "sum_value"),
    )


_SESSION_SQL = f"""
WITH gaps AS (
  SELECT user_id, ts, event_id, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), marked AS (
  SELECT *, CASE WHEN prev_ts IS NULL
                   OR epoch(ts) - epoch(prev_ts) > 1800.0
                 THEN 1 ELSE 0 END AS new_sess
  FROM gaps
), sessions AS (
  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
              AS session_id
  FROM marked
)
SELECT user_id, session_id,
       min(ts) AS session_start,
       max(ts) AS session_end,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM sessions
GROUP BY user_id, session_id
"""


def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field navigation (≡ the reference's JSON-envelope tree walks,
    AMQPBrokerStreamSuite.scala:119-240) via ``get_json_object``."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    # integer sum ÷ count: both engines do the same exact int aggregation
    # then one IEEE division → bit-identical avg.
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        (F.sum(k).cast("double") / F.count(k)).alias("avg_k"),
        F.count(F.when(k > 50, 1)).alias("n_k_gt_50"),
    )


_JSON_SQL = """
SELECT event_type,
       CAST(sum(k) AS BIGINT) AS sum_k,
       CAST(sum(k) AS DOUBLE) / count(k) AS avg_k,
       count(CASE WHEN k > 50 THEN 1 END) AS n_k_gt_50
FROM (SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      FROM events)
GROUP BY event_type
"""


def events_from_json_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``from_json`` with a declared schema — the typed counterpart of
    ``events_json_props``'s ``get_json_object`` path walks (SURVEY §2B maps
    the reference's JSON tree navigation, AMQPTemperature.scala:121-122, to
    exactly this).  Parsing happens once into a struct column; downstream
    references are struct field reads, not repeated JSON scans."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_id",
        "event_type",
        F.from_json("props", "k INT").alias("p"),
    )
    return (
        parsed.where(F.col("p.k").isNotNull())
        .groupBy("event_type")
        .agg(
            F.min("p.k").alias("min_k"),
            F.max("p.k").alias("max_k"),
            F.sum(F.col("p.k").cast("long")).alias("sum_k"),
        )
    )


_FROM_JSON_SQL = """
SELECT event_type,
       min(k) AS min_k, max(k) AS max_k, CAST(sum(k) AS BIGINT) AS sum_k
FROM (SELECT event_type,
             CAST(json_extract(props, '$.k') AS INTEGER) AS k
      FROM events)
WHERE k IS NOT NULL
GROUP BY event_type
"""


def envelope_body_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → AMQP envelope → AMQPBodyFunction-style body cast → agg.
    Exercises the envelope construction + body converter (envelope.py ≡
    AMQPBodyFunction.scala:31-40) end-to-end in batch."""
    ev = load_table(spark, sf_dir, "events")
    env = events_as_envelope(ev)
    vals = body_as(env, "double", alias="temperature")
    return vals.groupBy(F.window("ingest_ts", "1 hour").alias("w")).agg(
        F.max("temperature").alias("max_temp"),
        F.count("*").alias("n_msgs"),
    ).select(F.col("w.start").alias("window_start"), "max_temp", "n_msgs")


# The double→string→double body round-trip is lossless (shortest-roundtrip
# formatting in both engines), so the oracle reads the value directly.
# WHERE value IS NOT NULL mirrors the converter's drop-not-crash semantic
# (AMQPBodyFunction.scala:31-40 / SURVEY §7.4.2): a message whose body
# cannot cast is DROPPED, so a NULL-valued event never reaches the agg
# (NULL/NaN-corpus probe, round 11).
_ENVELOPE_SQL = """
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
       max(value) AS max_temp,
       count(*) AS n_msgs
FROM events
WHERE value IS NOT NULL
GROUP BY 1
"""


def envelope_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-column surface over the envelope's applicationProperties
    (SURVEY §2C scalar map family): element_at lookup, map_keys, size."""
    ev = load_table(spark, sf_dir, "events")
    env = events_as_envelope(ev)
    m = F.col("application_properties")
    return (
        env.select(
            "to_address",
            F.element_at(m, "user_id").cast("long").alias("user_id"),
            F.concat_ws(",", F.array_sort(F.map_keys(m))).alias("keys_sig"),
            F.size(m).alias("n_props"),
        )
        .groupBy("to_address", "keys_sig", "n_props")
        .agg(
            F.count("*").alias("n_msgs"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


# the envelope's map is built from (user_id, props), so the oracle derives
# the same facts from the raw columns
_MAP_FUNCS_SQL = """
SELECT event_type AS to_address,
       'props,user_id' AS keys_sig,
       2 AS n_props,
       count(*) AS n_msgs,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY event_type
"""


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-sequence funnel view → click → purchase: each stage must
    happen after the user's previous stage timestamp and within a 24 h
    conversion window of it.

    Scale: three equi-joins on user_id — all shuffles share the same key,
    so a cluster plans one exchange reused across stages (and bucketing
    events by user_id makes them exchange-free).  Stage tables are
    min-aggregates, orders of magnitude smaller than the event log.

    r15: each stage table is referenced twice (next stage's join + its
    own funnel count) and Catalyst has no DAG CSE, so the chain
    re-expanded per reference — SIX filtered event-log scans
    (1 + 2 + 3) where three suffice.  Lazy localCheckpoints on the
    user-grain stage aggregates compute each once; scoped to the query,
    nothing persists across calls."""
    ev = load_table(spark, sf_dir, "events")
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
        .localCheckpoint(eager=False)
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .join(views, "user_id")
        .where(
            (F.col("ts") > F.col("t_view"))
            & (F.col("ts") <= F.col("t_view") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"), F.first("t_view").alias("t_view"))
        .localCheckpoint(eager=False)
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .join(clicks, "user_id")
        .where(
            (F.col("ts") > F.col("t_click"))
            & (F.col("ts") <= F.col("t_click") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        views.agg(F.count("*").alias("n_view"))
        .crossJoin(F.broadcast(clicks.agg(F.count("*").alias("n_click"))))
        .crossJoin(
            F.broadcast(purchases.agg(F.count("*").alias("n_purchase")))
        )
        .select(
            "n_view",
            "n_click",
            "n_purchase",
            # try_divide: NULL on an empty funnel stage (count 0) instead
            # of an ANSI DIVIDE_BY_ZERO crash — matches DuckDB, whose
            # DOUBLE/0 yields NULL (empty-corpus probe, round 11)
            F.try_divide(F.col("n_click").cast("double"), F.col("n_view")).alias(
                "view_to_click"
            ),
            F.try_divide(
                F.col("n_purchase").cast("double"), F.col("n_click")
            ).alias("click_to_purchase"),
        )
    )


_FUNNEL_SQL = """
WITH views AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
clicks AS (
  SELECT e.user_id, min(e.ts) AS t_click FROM events e
  JOIN views v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_view
    AND e.ts <= v.t_view + INTERVAL 24 HOUR
  GROUP BY e.user_id
),
purchases AS (
  SELECT e.user_id, min(e.ts) AS t_purchase FROM events e
  JOIN clicks c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
    AND e.ts <= c.t_click + INTERVAL 24 HOUR
  GROUP BY e.user_id
)
SELECT (SELECT count(*) FROM views) AS n_view,
       (SELECT count(*) FROM clicks) AS n_click,
       (SELECT count(*) FROM purchases) AS n_purchase,
       CAST((SELECT count(*) FROM clicks) AS DOUBLE)
         / (SELECT count(*) FROM views) AS view_to_click,
       CAST((SELECT count(*) FROM purchases) AS DOUBLE)
         / (SELECT count(*) FROM clicks) AS click_to_purchase
"""


def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity day, counted per
    day-offset they return on.  Two shuffles (first-activity agg on
    user_id, cohort-cell agg) — the canonical retention matrix, scalable
    because both aggregate user-day granularity, never raw events."""
    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    return (
        ev.join(first, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.date_trunc("day", F.col("ts")), F.col("cohort_day")).alias(
                "day_offset"
            ),
        )
        .where(F.col("day_offset").isin(0, 1, 7, 14, 28))
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


_RETENTION_SQL = """
WITH first AS (
  SELECT user_id, CAST(date_trunc('day', min(ts)) AS TIMESTAMP) AS cohort_day
  FROM events GROUP BY user_id
)
SELECT cohort_day, day_offset, count(DISTINCT e.user_id) AS n_active
FROM (SELECT user_id, ts FROM events) e
JOIN first USING (user_id)
JOIN LATERAL (
  SELECT datediff('day', cohort_day, date_trunc('day', e.ts)) AS day_offset
) d ON true
WHERE day_offset IN (0, 1, 7, 14, 28)
GROUP BY cohort_day, day_offset
"""


def _burst_marked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error rows with day-sharded burst markers (new_burst flag +
    within-day cumulative local_id).  Both the per-day offset branch and
    the burst-aggregate branch of ``events_interval_join_binned`` consume
    this — without sharing, the error scan + day-shuffle + lag window
    subtree executes once per branch (the filters differ slightly across
    the copies, so AQE exchange-reuse cannot deduplicate them)."""
    ev = load_table(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error").select(
        "ts", "event_id", F.to_date("ts").alias("day")
    )
    w_day = W.partitionBy("day").orderBy("ts", "event_id")

    # previous day's last error ts, keyed by the day it precedes
    day_last = errors.groupBy("day").agg(F.max("ts").alias("boundary_prev_ts"))
    boundary = day_last.select(
        F.date_add("day", 1).alias("day"), "boundary_prev_ts"
    )
    return (
        errors.withColumn("prev_in_day", F.lag("ts").over(w_day))
        .join(F.broadcast(boundary), "day", "left")
        .withColumn(
            "prev_ts", F.coalesce("prev_in_day", "boundary_prev_ts")
        )
        .withColumn(
            "new_burst",
            F.when(
                F.col("prev_ts").isNull()
                | (F.col("ts").cast("double") - F.col("prev_ts").cast("double") > 300.0),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "local_id",
            F.sum("new_burst").over(w_day.rowsBetween(W.unboundedPreceding, 0)),
        )
    )


def events_interval_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless interval join, binned: purchases that occurred during any
    global error burst (≥3 errors with <5 min gaps — no shared key with
    the probe side).

    Naively this is a nested-loop theta join (quadratic at scale).  The
    scalable formulation: explode each interval into the 1-hour buckets it
    overlaps, bucket the probe side once, equi-join on bucket, then apply
    the exact range filter.  Each (purchase, burst) pair meets in exactly
    one bucket (the probe row has one bucket), so no dedup is needed and
    the only shuffle is a keyed hash join on bucket.

    Burst detection is day-sharded: the lag and the cumulative burst count
    run in windows PARTITIONED BY day (parallel at any scale); day
    boundaries are fixed up from a per-day summary that is aggregate-small
    (one row per calendar day — thousands of rows for years of data):
    - a day's first row takes prev_ts from the previous day's last ts
      (broadcast equi-join on day), so a burst spanning midnight is not
      split;
    - the global burst_id = per-day offset + within-day cumulative count,
      where offsets are a running sum over the day summary (the only
      unpartitioned window, over #days rows, not #errors rows).
    Result is row-identical to a single global cumulative window."""
    ev = load_table(spark, sf_dir, "events")
    # referenced by the day summary and the burst rollup: materialized
    # once per query so the error scan and both day windows run once
    marked = _burst_marked(spark, sf_dir).localCheckpoint(eager=False)
    # per-day burst-count prefix sums (runs over the tiny day summary)
    day_tot = marked.groupBy("day").agg(F.sum("new_burst").alias("nb"))
    w_days = W.orderBy("day").rowsBetween(W.unboundedPreceding, -1)
    offsets = day_tot.select(
        "day", F.coalesce(F.sum("nb").over(w_days), F.lit(0)).alias("off")
    )
    bursts = (
        marked.join(F.broadcast(offsets), "day")
        .withColumn("burst_id", F.col("off") + F.col("local_id"))
        .groupBy("burst_id")
        .agg(
            F.min("ts").alias("burst_start"),
            F.max("ts").alias("burst_end"),
            F.count("*").alias("n_errors"),
        )
        .where(F.col("n_errors") >= 3)
    )
    binned_bursts = bursts.select(
        "burst_id",
        "burst_start",
        "burst_end",
        F.explode(
            F.sequence(
                F.date_trunc("hour", "burst_start"),
                F.date_trunc("hour", "burst_end"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("bucket"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "ts", "value", F.date_trunc("hour", "ts").alias("bucket")
    )
    hits = purchases.join(binned_bursts, "bucket").where(
        (F.col("ts") >= F.col("burst_start")) & (F.col("ts") <= F.col("burst_end"))
    )
    return hits.agg(
        F.count("*").alias("n_purchases_in_bursts"),
        F.countDistinct("burst_id").alias("n_bursts_hit"),
        dsum("value", "value_at_risk"),
    )


_INTERVAL_BINNED_SQL = """
WITH e AS (
  SELECT ts, event_id,
         lag(ts) OVER (ORDER BY ts, event_id) AS prev_ts
  FROM events WHERE event_type = 'error'
), marked AS (
  SELECT *, CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 300.0
                 THEN 1 ELSE 0 END AS new_burst
  FROM e
), bursts AS (
  SELECT burst_id, min(ts) AS burst_start, max(ts) AS burst_end,
         count(*) AS n_errors
  FROM (SELECT *, sum(new_burst) OVER (ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS burst_id
        FROM marked)
  GROUP BY burst_id
  HAVING count(*) >= 3
)
SELECT count(*) AS n_purchases_in_bursts,
       count(DISTINCT burst_id) AS n_bursts_hit,
       CAST(sum(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE) AS value_at_risk
FROM (SELECT event_id, ts, value FROM events WHERE event_type = 'purchase') p
JOIN bursts b ON p.ts >= b.burst_start AND p.ts <= b.burst_end
"""


EWMA_ALPHA = 0.25


def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of event values —
    the sequential-recurrence analytic SQL windows can't express directly,
    done as an ordered array fold (collect → sort → F.aggregate), fully
    JVM-side.

    Scale: one shuffle on user_id; per-user state is the value array
    (bounded by events-per-user, not stream length — cap with a trailing
    window slice when keys are unbounded).  The left fold's double ops run
    in identical order in both engines → bit-exact."""
    ev = load_table(spark, sf_dir, "events")
    a = F.lit(EWMA_ALPHA)
    vals = F.transform(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))),
        lambda s: s["value"],
    )
    return (
        ev.groupBy("user_id")
        .agg(vals.alias("vals"))
        .select(
            "user_id",
            F.size("vals").alias("n_events"),
            F.aggregate(
                F.expr("slice(vals, 2, size(vals) - 1)"),
                F.element_at("vals", 1),
                lambda acc, x: a * x + (F.lit(1.0) - a) * acc,
            ).alias("ewma"),
            F.element_at("vals", -1).alias("last_value"),
        )
    )


_EWMA_SQL = f"""
SELECT user_id,
       len(vals) AS n_events,
       list_reduce(vals, (acc, x) -> CAST({EWMA_ALPHA} AS DOUBLE) * x
                                     + (1.0 - CAST({EWMA_ALPHA} AS DOUBLE)) * acc)
         AS ewma,
       vals[-1] AS last_value
FROM (SELECT user_id, list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vals
      FROM events GROUP BY user_id)
"""


# Holt smoothing constants: 0.5 is exact in binary, so both engines run
# the identical recurrence without a rounding step.
HOLT_ALPHA = 0.5
HOLT_BETA = 0.5


def events_holt_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear (level + trend) exponential smoothing of the daily
    event-count series, with the one-step-ahead forecast and its error
    per day — the trend-aware upgrade over events_ewma's flat smoothing
    and the standard short-horizon load forecast.

    The coupled recurrence (level feeds trend feeds level) cannot be a
    window function and exceeds list_reduce's same-type constraint, so:
    Spark runs it as an ordered array fold carrying a (level, trend,
    rows) struct accumulator; the oracle replays it as a recursive CTE —
    both spell the l' and b' arithmetic in the identical order, and
    alpha = beta = 0.5 keeps every operation binary-exact.

    Scale: the fold input is the DAY-grain series — bounded by the time
    range (30 rows here, 36.5k rows for a century), never event volume;
    the only heavy step is the one day-keyed count shuffle."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.count("*").cast("double").alias("y"))
    one = daily.agg(
        F.array_sort(F.collect_list(F.struct("day", "y"))).alias("arr")
    )
    arr = F.col("arr")
    row_t = (
        "array<struct<day:date,y:double,forecast:double,err:double,"
        "level:double,trend:double>>"
    )
    # F.get (NULL out-of-bounds) not element_at (ANSI INVALID_ARRAY_INDEX
    # on an empty series): a zero-event day range must yield 0 rows, not
    # a crash (empty-corpus probe, round 11)
    init = F.struct(
        F.get(arr, 0)["y"].alias("l"),
        F.lit(0.0).alias("b"),
        F.array().cast(row_t).alias("out"),
    )

    def step(acc, s):
        fc = acc["l"] + acc["b"]
        lp = F.lit(HOLT_ALPHA) * s["y"] + F.lit(1.0 - HOLT_ALPHA) * (
            acc["l"] + acc["b"]
        )
        bp = (
            F.lit(HOLT_BETA)
            * (
                (
                    F.lit(HOLT_ALPHA) * s["y"]
                    + F.lit(1.0 - HOLT_ALPHA) * (acc["l"] + acc["b"])
                )
                - acc["l"]
            )
            + F.lit(1.0 - HOLT_BETA) * acc["b"]
        )
        row = F.struct(
            s["day"].alias("day"),
            s["y"].alias("y"),
            fc.alias("forecast"),
            (s["y"] - fc).alias("err"),
            lp.alias("level"),
            bp.alias("trend"),
        )
        return F.struct(
            lp.alias("l"),
            bp.alias("b"),
            F.concat(acc["out"], F.array(row)).alias("out"),
        )

    folded = F.aggregate(
        # greatest(0, n-1): slice length must not go negative on an
        # empty series (ANSI INVALID_PARAMETER_VALUE; same probe)
        F.slice(arr, 2, F.greatest(F.lit(0), F.size(arr) - 1)),
        init,
        step,
        lambda acc: acc["out"],
    )
    return (
        one.select(F.explode(folded).alias("r"))
        .select("r.day", "r.y", "r.forecast", "r.err", "r.level", "r.trend")
    )


_HOLT_SQL = f"""
WITH RECURSIVE daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY 1
),
ord AS (
  SELECT day, y, row_number() OVER (ORDER BY day) AS rn FROM daily
),
walk AS (
  SELECT rn, day, y, y AS l, CAST(0 AS DOUBLE) AS b,
         CAST(NULL AS DOUBLE) AS fc, CAST(NULL AS DOUBLE) AS err
  FROM ord WHERE rn = 1
  UNION ALL
  SELECT o.rn, o.day, o.y,
         {HOLT_ALPHA} * o.y + {1.0 - HOLT_ALPHA} * (w.l + w.b),
         {HOLT_BETA} * (({HOLT_ALPHA} * o.y
                         + {1.0 - HOLT_ALPHA} * (w.l + w.b)) - w.l)
           + {1.0 - HOLT_BETA} * w.b,
         w.l + w.b,
         o.y - (w.l + w.b)
  FROM ord o JOIN walk w ON o.rn = w.rn + 1
)
SELECT day, y, fc AS forecast, err, l AS level, b AS trend
FROM walk WHERE rn >= 2
"""


def events_cusum_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM change-point statistics on the daily event-count
    series: S⁺_t = max(0, S⁺_{t-1} + (y_t − μ)), S⁻_t symmetric, with μ
    the series mean — the classic drift detector that accumulates small
    persistent shifts a per-day z-score never flags.  Output per day:
    count, both CUSUM statistics, and each one's running maximum (the
    alarm statistic a threshold would compare against).

    Determinism: μ = exact-integer sum ÷ count (one IEEE division); the
    recurrences run as an ordered array fold with a struct accumulator
    (the events_holt_daily pattern), replayed in the oracle as a
    recursive CTE with the max/addition arithmetic spelled identically.

    Scale: fold input is the day-grain series — bounded by the time
    range, never event volume; one day-keyed count shuffle."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.count("*").alias("n"))
    one = daily.agg(
        F.array_sort(
            F.collect_list(F.struct("day", F.col("n").cast("double").alias("y")))
        ).alias("arr"),
        (F.sum("n").cast("double") / F.count("*")).alias("mu"),
    )
    arr, mu = F.col("arr"), F.col("mu")
    row_t = (
        "array<struct<day:date,n_events:double,cusum_pos:double,"
        "cusum_neg:double,max_pos:double,max_neg:double>>"
    )
    init = F.struct(
        F.lit(0.0).alias("sp"),
        F.lit(0.0).alias("sn"),
        F.lit(0.0).alias("mp"),
        F.lit(0.0).alias("mn"),
        F.array().cast(row_t).alias("out"),
    )

    def step(acc, s):
        sp = F.greatest(F.lit(0.0), acc["sp"] + (s["y"] - mu))
        sn = F.greatest(F.lit(0.0), acc["sn"] + (mu - s["y"]))
        mp = F.greatest(acc["mp"], sp)
        mn = F.greatest(acc["mn"], sn)
        row = F.struct(
            s["day"].alias("day"),
            s["y"].alias("n_events"),
            sp.alias("cusum_pos"),
            sn.alias("cusum_neg"),
            mp.alias("max_pos"),
            mn.alias("max_neg"),
        )
        return F.struct(
            sp.alias("sp"),
            sn.alias("sn"),
            mp.alias("mp"),
            mn.alias("mn"),
            F.concat(acc["out"], F.array(row)).alias("out"),
        )

    folded = F.aggregate(arr, init, step, lambda acc: acc["out"])
    return (
        one.select(F.explode(folded).alias("r"))
        .select(
            "r.day",
            "r.n_events",
            "r.cusum_pos",
            "r.cusum_neg",
            "r.max_pos",
            "r.max_neg",
        )
    )


_CUSUM_SQL = """
WITH RECURSIVE daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY 1
),
mu AS (
  SELECT CAST(sum(CAST(y AS BIGINT)) AS DOUBLE) / count(*) AS mu FROM daily
),
ord AS (SELECT day, y, row_number() OVER (ORDER BY day) AS rn FROM daily),
walk AS (
  SELECT o.rn, o.day, o.y,
         greatest(CAST(0.0 AS DOUBLE), 0.0 + (o.y - m.mu)) AS sp,
         greatest(CAST(0.0 AS DOUBLE), 0.0 + (m.mu - o.y)) AS sn,
         greatest(CAST(0.0 AS DOUBLE),
                  greatest(CAST(0.0 AS DOUBLE), 0.0 + (o.y - m.mu))) AS mp,
         greatest(CAST(0.0 AS DOUBLE),
                  greatest(CAST(0.0 AS DOUBLE), 0.0 + (m.mu - o.y))) AS mn
  FROM ord o, mu m WHERE o.rn = 1
  UNION ALL
  SELECT o.rn, o.day, o.y,
         greatest(CAST(0.0 AS DOUBLE), w.sp + (o.y - m.mu)),
         greatest(CAST(0.0 AS DOUBLE), w.sn + (m.mu - o.y)),
         greatest(w.mp,
                  greatest(CAST(0.0 AS DOUBLE), w.sp + (o.y - m.mu))),
         greatest(w.mn,
                  greatest(CAST(0.0 AS DOUBLE), w.sn + (m.mu - o.y)))
  FROM ord o JOIN walk w ON o.rn = w.rn + 1
  CROSS JOIN mu m
)
SELECT day, y AS n_events, sp AS cusum_pos, sn AS cusum_neg,
       mp AS max_pos, mn AS max_neg
FROM walk
"""


CUSUM_H = 4.0  # alarm threshold in daily-count sigmas (classic 4-5 sigma
# CUSUM band); at the driver's sf0.01 the fixture's negative drift crosses
# it (5.3 sigma) while the positive side stays under (3.4 sigma), so the
# panel exercises BOTH branches of the decision


def events_cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The change-point DECISION on top of ``events_cusum_daily``'s
    statistics (VERDICT r5 #4): per CUSUM side, the first day the
    statistic crosses h·sigma — answering "when did the daily event
    distribution shift", not just "how big is the drift".  Output one
    row per side ('pos'/'neg'): the threshold, the first alarm day
    (NULL = never crossed), how many days were in alarm, and the peak
    statistic.

    Determinism: mu = exact-integer sum ÷ count; sigma^2 =
    (n·Σy² − (Σy)²) / n² with an exact BIGINT numerator and ONE double
    division, then one IEEE sqrt and one multiply for the threshold —
    bit-identical in both engines.  The recurrence is the
    events_cusum_daily ordered array fold, replayed in the oracle as the
    identical recursive CTE.

    Scale: everything after the one day-keyed count shuffle operates on
    the day-grain series (bounded by the time range, never event
    volume); the decision itself is a 2-row aggregate of that series."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.count("*").alias("n"))
    one = daily.agg(
        F.array_sort(
            F.collect_list(F.struct("day", F.col("n").cast("double").alias("y")))
        ).alias("arr"),
        F.sum("n").alias("s1"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
        F.count("*").alias("cnt"),
    )
    arr = F.col("arr")
    mu = F.col("s1").cast("double") / F.col("cnt")
    var = (
        (F.col("cnt") * F.col("s2") - F.col("s1") * F.col("s1")).cast("double")
        / (F.col("cnt") * F.col("cnt")).cast("double")
    )
    thr = F.lit(CUSUM_H) * F.sqrt(var)
    row_t = "array<struct<day:date,sp:double,sn:double>>"
    init = F.struct(
        F.lit(0.0).alias("sp"),
        F.lit(0.0).alias("sn"),
        F.array().cast(row_t).alias("out"),
    )

    def step(acc, s):
        sp = F.greatest(F.lit(0.0), acc["sp"] + (s["y"] - mu))
        sn = F.greatest(F.lit(0.0), acc["sn"] + (mu - s["y"]))
        row = F.struct(s["day"].alias("day"), sp.alias("sp"), sn.alias("sn"))
        return F.struct(
            sp.alias("sp"),
            sn.alias("sn"),
            F.concat(acc["out"], F.array(row)).alias("out"),
        )

    folded = F.aggregate(arr, init, step, lambda acc: acc["out"])
    stacked = (
        one.select(thr.alias("thr"), F.explode(folded).alias("r"))
        .selectExpr(
            "thr", "stack(2, 'pos', r.day, r.sp, 'neg', r.day, r.sn)"
            " AS (side, day, stat)"
        )
    )
    alarm = F.col("stat") > F.col("thr")
    return stacked.groupBy("side").agg(
        F.max("thr").alias("threshold"),
        F.min(F.when(alarm, F.col("day"))).alias("first_alarm_day"),
        F.sum(alarm.cast("long")).alias("n_alarm_days"),
        F.max("stat").alias("peak_stat"),
    )


_CUSUM_ALARM_SQL = f"""
WITH RECURSIVE daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS n
  FROM events GROUP BY 1
),
st AS (
  SELECT count(*) AS cnt,
         CAST(sum(n) AS BIGINT) AS s1,
         CAST(sum(n * n) AS BIGINT) AS s2
  FROM daily
),
par AS (
  SELECT CAST(s1 AS DOUBLE) / cnt AS mu,
         CAST({CUSUM_H!r} AS DOUBLE)
           * sqrt(CAST(cnt * s2 - s1 * s1 AS DOUBLE)
                  / CAST(cnt * cnt AS DOUBLE)) AS thr
  FROM st
),
ord AS (
  SELECT day, CAST(n AS DOUBLE) AS y,
         row_number() OVER (ORDER BY day) AS rn
  FROM daily
),
walk AS (
  SELECT o.rn, o.day,
         greatest(CAST(0.0 AS DOUBLE), 0.0 + (o.y - p.mu)) AS sp,
         greatest(CAST(0.0 AS DOUBLE), 0.0 + (p.mu - o.y)) AS sn
  FROM ord o, par p WHERE o.rn = 1
  UNION ALL
  SELECT o.rn, o.day,
         greatest(CAST(0.0 AS DOUBLE), w.sp + (o.y - p.mu)),
         greatest(CAST(0.0 AS DOUBLE), w.sn + (p.mu - o.y))
  FROM ord o JOIN walk w ON o.rn = w.rn + 1
  CROSS JOIN par p
),
sides AS (
  SELECT 'pos' AS side, day, sp AS stat FROM walk
  UNION ALL
  SELECT 'neg' AS side, day, sn AS stat FROM walk
)
SELECT s.side, max(p.thr) AS threshold,
       min(CASE WHEN s.stat > p.thr THEN s.day END) AS first_alarm_day,
       CAST(sum(CASE WHEN s.stat > p.thr THEN 1 ELSE 0 END) AS BIGINT)
         AS n_alarm_days,
       max(s.stat) AS peak_stat
FROM sides s, par p
GROUP BY s.side
"""


def events_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix (first-order Markov counts): for each
    user's time-ordered event stream, count (prev_type → type) pairs and
    each transition's share of its source type's outgoing edges.

    Scale: one shuffle on user_id for the lag window (same key as
    sessionize/funnel — bucketing events by user_id makes it
    exchange-free), then a tiny |types|² aggregate.  The share divides
    two exact counts — deterministic across engines."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count("*").alias("n_transitions"))
    )
    w_src = W.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "event_type",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(w_src)
        ).alias("share_of_source"),
    )


_TRANSITION_SQL = """
WITH pairs AS (
  SELECT prev_type, event_type, count(*) AS n_transitions
  FROM (
    SELECT event_type,
           lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_type
    FROM events
  )
  WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
)
SELECT prev_type, event_type, n_transitions,
       CAST(n_transitions AS DOUBLE)
         / sum(n_transitions) OVER (PARTITION BY prev_type)
         AS share_of_source
FROM pairs
"""


def layout_zorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key for the events table: interleave 4
    bits of user bucket (user_id mod 16) with 4 bits of time-of-day bucket
    (90-minute slots), then report the per-tile histogram.  Writing 100 TB
    of events sorted by this key gives parquet row-groups that are tight in
    BOTH dimensions, so min/max data skipping prunes user-predicates and
    time-predicates alike — the single-sort answer to "we filter on two
    uncorrelated columns".  All bit math is exact integer shifts/masks,
    identical in both engines.

    Scale: the z-value is a scan-fused projection; the histogram is one
    256-group aggregate."""
    ev = load_table(spark, sf_dir, "events")
    xb = F.col("user_id") % 16
    yb = F.floor((F.hour("ts") * 60 + F.minute("ts")) / F.lit(90)).cast("long")
    z = None
    for k in range(4):
        bits = F.shiftright(xb, k).bitwiseAND(F.lit(1)) * (1 << (2 * k)) + (
            F.shiftright(yb, k).bitwiseAND(F.lit(1)) * (1 << (2 * k + 1))
        )
        z = bits if z is None else z + bits
    return (
        ev.select(z.alias("z_tile"), "user_id")
        .groupBy("z_tile")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def _zorder_sql() -> str:
    terms = []
    for k in range(4):
        terms.append(f"(((user_id % 16) >> {k}) & 1) * {1 << (2 * k)}")
        terms.append(f"((yb >> {k}) & 1) * {1 << (2 * k + 1)}")
    zexpr = " + ".join(terms)
    return f"""
WITH b AS (
  SELECT user_id,
         CAST(floor((hour(ts) * 60 + minute(ts)) / 90.0) AS BIGINT) AS yb
  FROM events
)
SELECT {zexpr} AS z_tile,
       count(*) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM b
GROUP BY 1
"""


TOP_PATHS_K = 20


def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern mining lite: the K most frequent 3-step
    event-type paths across user sessions (ordered by ts, event_id — a
    unique key, so the sequence is deterministic).  ``lead×2`` over the
    per-user window, then one count aggregate; top-K via sort+limit
    (TakeOrderedAndProject — per-partition heaps, no global window).

    Scale: the window shuffles once on user_id; path cardinality is
    |event_types|³, so the aggregate output is tiny whatever the event
    count."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    p = ev.select(
        "user_id",
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).where(F.col("e3").isNotNull())
    return (
        p.groupBy(F.concat_ws(">", "e1", "e2", "e3").alias("path"))
        .agg(F.count("*").alias("n_paths"))
        .orderBy(F.col("n_paths").desc(), "path")
        .limit(TOP_PATHS_K)
    )


_TOP_PATHS_SQL = f"""
WITH seq AS (
  SELECT user_id, event_type AS e1,
         lead(event_type, 1) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT e1 || '>' || e2 || '>' || e3 AS path, count(*) AS n_paths
FROM seq WHERE e3 IS NOT NULL
GROUP BY 1
ORDER BY n_paths DESC, path
LIMIT {TOP_PATHS_K}
"""


RESAMPLE_STEP_S = 900  # 15-minute grid


def events_resample_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling: regularize each event_type's irregular
    stream onto a 15-minute grid — last observation per slot, gap slots
    materialized, forward-filled from the most recent observation (the
    classic downsample+ffill of every metrics/timeseries store).

    Determinism: "last in slot" is row_number over (ts DESC, event_id
    DESC) — unique key; forward-fill is last-non-null over the running
    frame, identical in both engines.  ``value`` is selected, never
    summed — doubles stay hash-safe.

    Scale: per-slot reduction shuffles on (event_type, slot) and shrinks
    events to |types|×|slots| rows; the grid and the ffill window operate
    on that reduced relation (slots grow with time span, not event
    volume — a year is 35k slots)."""
    ev = load_table(spark, sf_dir, "events")
    slot_s = (
        (F.unix_timestamp("ts") / RESAMPLE_STEP_S).cast("long")
        * RESAMPLE_STEP_S
    )
    w_slot = W.partitionBy("event_type", "slot_s").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    last_per = (
        ev.select("event_type", slot_s.alias("slot_s"), "ts", "event_id", "value")
        .withColumn("rn", F.row_number().over(w_slot))
        .where(F.col("rn") == 1)
        .select("event_type", "slot_s", F.col("value").alias("last_in_slot"))
    )
    bounds = ev.select(slot_s.alias("s")).agg(
        F.min("s").alias("lo"), F.max("s").alias("hi")
    )
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(
            F.sequence("lo", "hi", F.lit(RESAMPLE_STEP_S))
        ).alias("slot_s"),
    )
    w_fill = W.partitionBy("event_type").orderBy("slot_s")
    joined = grid.join(last_per, ["event_type", "slot_s"], "left")
    return joined.select(
        "event_type",
        F.timestamp_seconds("slot_s").alias("slot"),
        F.last("last_in_slot", ignorenulls=True).over(w_fill).alias(
            "filled_value"
        ),
        F.col("last_in_slot").isNull().alias("is_gap"),
    )


_RESAMPLE_SQL = f"""
WITH slotted AS (
  SELECT event_type,
         (CAST(floor(epoch(ts)) AS BIGINT) // {RESAMPLE_STEP_S})
           * {RESAMPLE_STEP_S} AS slot_s,
         ts, event_id, value
  FROM events
),
last_per AS (
  SELECT event_type, slot_s, value AS last_in_slot
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY event_type, slot_s ORDER BY ts DESC, event_id DESC) AS rn
    FROM slotted
  ) WHERE rn = 1
),
bounds AS (SELECT min(slot_s) AS lo, max(slot_s) AS hi FROM slotted),
grid AS (
  SELECT t.event_type, g.slot_s
  FROM (SELECT DISTINCT event_type FROM events) t,
       (SELECT unnest(range(lo, hi + {RESAMPLE_STEP_S}, {RESAMPLE_STEP_S}))
          AS slot_s FROM bounds) g
)
SELECT grid.event_type,
       make_timestamp(grid.slot_s * 1000000) AS slot,
       last_value(last_in_slot IGNORE NULLS) OVER (
         PARTITION BY grid.event_type ORDER BY grid.slot_s) AS filled_value,
       last_in_slot IS NULL AS is_gap
FROM grid LEFT JOIN last_per
  ON last_per.event_type = grid.event_type AND last_per.slot_s = grid.slot_s
"""


def events_cum_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily audience growth: per day — distinct active users, first-time
    users, and the running total of distinct users ever seen (cumulative
    count-distinct, the classic "total registered audience" curve).

    The naive formulation (count(DISTINCT user) over an expanding window)
    re-scans history per day; instead each user contributes once at their
    first-activity day, and the cumulative curve is a running sum over the
    per-day aggregate.  Scale: two user-day-granularity shuffles; the
    ordered window runs over |days| rows, never raw events."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    dau = ev.groupBy(day.alias("day")).agg(
        F.count_distinct("user_id").alias("n_active_users")
    )
    first = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("day")
    )
    new_users = first.groupBy("day").agg(F.count("*").alias("n_new_users"))
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        dau.join(new_users, "day", "left")
        .select(
            "day",
            "n_active_users",
            F.coalesce("n_new_users", F.lit(0)).alias("n_new_users"),
        )
        .withColumn("cum_distinct_users", F.sum("n_new_users").over(w))
    )


_CUM_DISTINCT_SQL = """
WITH dau AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         count(DISTINCT user_id) AS n_active_users
  FROM events GROUP BY 1
),
first_day AS (
  SELECT user_id, CAST(date_trunc('day', min(ts)) AS TIMESTAMP) AS day
  FROM events GROUP BY user_id
),
new_users AS (
  SELECT day, count(*) AS n_new_users FROM first_day GROUP BY day
)
SELECT d.day,
       CAST(d.n_active_users AS BIGINT) AS n_active_users,
       CAST(coalesce(n.n_new_users, 0) AS BIGINT) AS n_new_users,
       CAST(sum(coalesce(n.n_new_users, 0))
              OVER (ORDER BY d.day ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_distinct_users
FROM dau d LEFT JOIN new_users n ON n.day = d.day
"""


def events_rolling_dau_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per day.  Sliding-window
    count-distinct has no running-sum shortcut (users repeat across
    days), so the standard exact formulation: dedupe to (user, day)
    grain once, explode each user-day to EXACTLY the 7 window days it
    serves (``sequence`` — a projection, not a join), count-distinct
    per served day, and keep only days the corpus actually contains via
    a broadcast semi-join against the tiny day list.  Shuffle volume is
    user-days × 7, never raw events × 7, and no comparison is
    user-days × |days| (the range-join formulation degrades to a
    nested-loop of that size — review-caught)."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        F.date_trunc("day", F.col("ts")).alias("uday"), "user_id"
    ).distinct()
    served = ud.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("uday"),
                F.col("uday") + F.expr("INTERVAL 6 DAYS"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day"),
    )
    days = ud.select(F.col("uday").alias("day")).distinct()
    return (
        served.join(F.broadcast(days), "day", "left_semi")
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("dau_7d"))
    )


_ROLLING_DAU_SQL = """
WITH ud AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS uday, user_id
  FROM events
),
days AS (SELECT DISTINCT uday AS day FROM ud)
SELECT d.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS dau_7d
FROM days d
JOIN ud u ON u.uday <= d.day AND u.uday >= d.day - INTERVAL 6 DAY
GROUP BY d.day
"""


def events_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View→purchase conversion latency per day: for each purchase, the
    time since the same user's most recent view (the as-of union+window
    pattern of ``asof_join_error_purchase`` — one shuffle on user_id, no
    per-row subquery), aggregated to daily median/p90 latency.

    Latencies are exact BIGINT microsecond differences (unix_micros ≡
    DuckDB epoch_us — second-granularity conversions would truncate vs
    round sub-second parts differently), so the percentiles interpolate
    identical integers in both engines."""
    ev = load_table(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.lit(0).alias("kind"),
        F.col("ts").alias("v_ts"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("kind"),
        F.lit(None).cast("timestamp").alias("v_ts"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    conv = (
        views.unionByName(purchases)
        .withColumn("asof_view_ts", F.last("v_ts", ignorenulls=True).over(w))
        .where(F.col("kind") == 1)
        .select(
            F.date_trunc("day", F.col("ts")).alias("day"),
            (
                F.unix_micros("ts") - F.unix_micros("asof_view_ts")
            ).alias("latency_us"),
        )
    )
    return conv.groupBy("day").agg(
        F.count("*").alias("n_purchases"),
        F.count("latency_us").alias("n_converted"),
        F.percentile("latency_us", F.lit(0.5)).alias("median_latency_us"),
        F.percentile("latency_us", F.lit(0.9)).alias("p90_latency_us"),
    )


_CONVERSION_SQL = """
WITH conv AS (
  SELECT CAST(date_trunc('day', p.ts) AS TIMESTAMP) AS day,
         epoch_us(p.ts)
           - epoch_us((SELECT max(v.ts) FROM events v
                       WHERE v.event_type = 'view'
                         AND v.user_id = p.user_id
                         AND v.ts <= p.ts)) AS latency_us
  FROM events p
  WHERE p.event_type = 'purchase'
)
SELECT day,
       count(*) AS n_purchases,
       count(latency_us) AS n_converted,
       quantile_cont(latency_us, 0.5) AS median_latency_us,
       quantile_cont(latency_us, 0.9) AS p90_latency_us
FROM conv
GROUP BY day
"""


def events_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per-user consecutive-active-day streaks — the
    canonical sessionization-at-day-grain pattern (island key = day
    number minus per-user row number).  Output per user: active days,
    number of streaks, longest streak.

    Scale: everything happens at (user, day) grain after one distinct;
    the window partitions by user_id (bounded per-user state), and the
    two aggregations shuffle |user-days| then |users| rows."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id",
        F.datediff(
            F.date_trunc("day", F.col("ts")).cast("date"),
            F.lit("2020-01-01").cast("date"),
        ).alias("d"),
    ).distinct()
    wn = W.partitionBy("user_id").orderBy("d")
    islands = ud.withColumn(
        "island", F.col("d") - F.row_number().over(wn)
    )
    streaks = islands.groupBy("user_id", "island").agg(
        F.count("*").alias("streak_len")
    )
    return streaks.groupBy("user_id").agg(
        F.sum("streak_len").alias("n_active_days"),
        F.count("*").alias("n_streaks"),
        F.max("streak_len").alias("longest_streak"),
    )


_STREAKS_SQL = """
WITH ud AS (
  SELECT DISTINCT user_id,
         datediff('day', DATE '2020-01-01',
                  CAST(date_trunc('day', ts) AS DATE)) AS d
  FROM events
),
islands AS (
  SELECT user_id, d,
         d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS island
  FROM ud
),
streaks AS (
  SELECT user_id, island, count(*) AS streak_len
  FROM islands GROUP BY user_id, island
)
SELECT user_id,
       CAST(sum(streak_len) AS BIGINT) AS n_active_days,
       count(*) AS n_streaks,
       max(streak_len) AS longest_streak
FROM streaks
GROUP BY user_id
"""


# ------------------------------------------------- streaming batch twins
# VERDICT r4 #5: surface the streaming-only semantics as oracled batch
# queries so the driver's DuckDB gate attests them too.

DEDUP_TWIN_DELAY_US = 24 * 3600 * 1_000_000  # 1 day, in exact microseconds


def dedup_within_delay(
    df: DataFrame, keys: list[str], ts_col: str, delay_us: int
) -> DataFrame:
    """Batch twin of ``streaming.windows.streaming_dedup``
    (``dropDuplicatesWithinWatermark``): per key, walk events in
    EVENT-TIME order and keep one iff it is >= ``delay_us`` after the
    previously KEPT one (the kept event opens a suppression window;
    suppressed duplicates do NOT extend it).  Equivalence to the
    streaming operator needs more than in-order arrival: the live path
    only re-admits a key once the WATERMARK has advanced past the kept
    event's expiry (kept_ts + delay), so the twin matches exactly when
    the watermark has crossed each kept event's expiry before the next
    candidate for that key arrives — the regime
    ``test_streaming_dedup_matches_batch_twin`` constructs (ADVICE r5).

    The greedy recurrence is inherently sequential per key, so it runs
    as an ordered array fold (the EWMA/next-fit pattern): one shuffle on
    the dedup key, then a per-key O(k) walk.  In streaming, k is bounded
    by the watermark horizon; here by the key granularity.  Returns one
    row per KEPT event: (*keys, kept_ts_us)."""
    rows = df.select(*keys, F.unix_micros(F.col(ts_col)).alias("tus"))
    per = rows.groupBy(*keys).agg(
        F.array_sort(F.collect_list("tus")).alias("ts_arr")
    )
    kept = F.aggregate(
        F.col("ts_arr"),
        F.struct(
            F.lit(None).cast("long").alias("last"),
            F.array().cast("array<long>").alias("kept"),
        ),
        lambda acc, x: F.when(
            acc["last"].isNull()
            | (x >= acc["last"] + F.lit(delay_us)),
            F.struct(
                x.alias("last"),
                F.concat(acc["kept"], F.array(x)).alias("kept"),
            ),
        ).otherwise(acc),
        lambda acc: acc["kept"],
    )
    return per.select(*keys, F.explode(kept).alias("kept_ts_us"))


def streaming_dedup_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-dedup semantics over the events table: per (user_id,
    event_type), keep the first event and every event at least one day
    after the previously kept one — the batch-replayable definition of
    dropDuplicatesWithinWatermark's keep/drop decision (see
    ``dedup_within_delay``).  The oracle replays the identical greedy
    walk as a recursive CTE."""
    ev = load_table(spark, sf_dir, "events")
    return dedup_within_delay(
        ev, ["user_id", "event_type"], "ts", DEDUP_TWIN_DELAY_US
    )


_DEDUP_TWIN_SQL = f"""
WITH RECURSIVE ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS tus,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events
),
walk AS (
  SELECT user_id, event_type, rn, tus, tus AS last_kept, TRUE AS kept
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.event_type, e.rn, e.tus,
         CASE WHEN e.tus >= w.last_kept + {DEDUP_TWIN_DELAY_US}
              THEN e.tus ELSE w.last_kept END,
         e.tus >= w.last_kept + {DEDUP_TWIN_DELAY_US}
  FROM ev e
  JOIN walk w ON e.user_id = w.user_id
             AND e.event_type = w.event_type
             AND e.rn = w.rn + 1
)
SELECT user_id, event_type, tus AS kept_ts_us FROM walk WHERE kept
"""


def streaming_rollup_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the continuous hourly rollup
    (``streaming.rollup.hourly_rollup_agg``): the same (hour, address)
    grain and measure set the streaming-maintained store carries, over
    the events table (address ≡ event_type, numeric body ≡ value,
    sender ≡ user_id).  Differences are exactly the oracle-portability
    conventions: the value sum goes through exact DECIMAL (the streaming
    store sums doubles), and the HLL sender estimate is reduced to a
    within-3·rsd-of-exact boolean (the agg_approx_stats pattern) instead
    of shipping the raw sketch value.  ``test_streaming_rollup_twin``
    pins this query to the live rollup aggregation on the same envelope.

    Scale: one scan, one partial-aggregated shuffle on (hour, address);
    the single exact count-distinct rides the same aggregate (at 100 TB
    the store keeps only the HLL column — fixed state per group)."""
    ev = load_table(spark, sf_dir, "events")
    agg = (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"),
            F.col("event_type").alias("address"),
        )
        .agg(
            F.count("*").alias("n_messages"),
            dsum("value", "sum_value"),
            F.max("value").alias("max_value"),
            F.count_distinct("user_id").alias("exact_senders"),
            F.approx_count_distinct("user_id").alias("apx"),
        )
    )
    # Two-regime bound: 3·rsd relative error is HLL's published guarantee
    # for large cardinalities; per-(hour, address) sender counts here are
    # tiny (3-51), where the estimator works in its linear-counting
    # regime with small ABSOLUTE error (observed ±4 at sf0.1) — so the
    # claim is abs_err <= max(3·rsd·exact, 5).  Deterministic given the
    # data (fixed sketch, fixed input), so checkable, never flaky.
    within = F.abs(F.col("apx") - F.col("exact_senders")) <= F.greatest(
        F.lit(3 * 0.05) * F.col("exact_senders"), F.lit(5.0)
    )
    return agg.select(
        F.date_format(F.col("w.start"), "yyyyMMddHH").alias("hour"),
        F.col("w.start").alias("window_start"),
        "address",
        "n_messages",
        "sum_value",
        "max_value",
        "exact_senders",
        within.alias("senders_within_bound"),
    )


_ROLLUP_TWIN_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y%m%d%H') AS hour,
       CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       event_type AS address,
       count(*) AS n_messages,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       max(value) AS max_value,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_senders,
       TRUE AS senders_within_bound
FROM events
GROUP BY 1, 2, 3
"""


def streaming_cms_topk_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the continuous-CMS heavy-hitter serving path
    (``streaming.cms.cms_topk`` over the store ``start_continuous_cms``
    maintains — VERDICT r5 #2): per sender key, the count-min ESTIMATE
    from the 1024-cell sketch next to the exact count, top-K by estimate
    (ties → key).  The estimates are replayed exactly in the oracle (the
    md5 cell hashes are engine-identical), so the driver attests the
    sketch VALUES here, not just bound booleans —
    ``test_continuous_cms_store_equals_batch_sketch`` ties this twin's
    numbers to the live store across a checkpoint restart.

    Scale: one events scan → per-key aggregate (materialized once per
    query: the relation feeds both the store build and the probe side);
    the store is
    CMS_D·CMS_W = 1024 rows broadcast; top-K is TakeOrderedAndProject.
    CMS linearity makes building cells from per-key counts bit-identical
    to counting rows into cells (agg_cms_heavy_hitters' argument)."""
    exact = (
        load_table(spark, sf_dir, "events")
        .select(F.col("user_id").cast("string").alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("true_cnt"))
        .localCheckpoint(eager=False)
    )
    probe = exact.select(
        "k", "true_cnt", F.explode(_cms_hashes(F.col("k"))).alias("p")
    ).select("k", "true_cnt", "p.r", "p.b")
    store = probe.groupBy("r", "b").agg(F.sum("true_cnt").alias("cell"))
    est = (
        probe.join(F.broadcast(store), ["r", "b"])
        .groupBy("k", "true_cnt")
        .agg(F.min("cell").alias("est"))
    )
    return (
        est.select("k", "est", "true_cnt")
        .orderBy(F.col("est").desc(), "k")
        .limit(CMS_TOPK_K)
    )


_CMS_TOPK_SQL = f"""
WITH exact AS (
  SELECT CAST(user_id AS VARCHAR) AS k, count(*) AS true_cnt
  FROM events GROUP BY 1
),
probe AS (
  SELECT k, true_cnt, t.r,
         substring(md5(CAST(t.r AS VARCHAR) || ':' || k), 1, 2) AS b
  FROM exact, range({CMS_D}) t(r)
),
store AS (
  SELECT r, b, CAST(sum(true_cnt) AS BIGINT) AS cell
  FROM probe GROUP BY 1, 2
),
est AS (
  SELECT p.k, p.true_cnt, min(s.cell) AS est
  FROM probe p JOIN store s USING (r, b)
  GROUP BY 1, 2
)
SELECT k, CAST(est AS BIGINT) AS est, CAST(true_cnt AS BIGINT) AS true_cnt
FROM est
ORDER BY est DESC, k
LIMIT {CMS_TOPK_K}
"""


QUERIES = {
    "events_funnel": events_funnel,
    "streaming_dedup_twin": streaming_dedup_twin,
    "streaming_rollup_twin": streaming_rollup_twin,
    "streaming_cms_topk_twin": streaming_cms_topk_twin,
    "events_cusum_alarms": events_cusum_alarms,
    "events_cum_distinct_users": events_cum_distinct_users,
    "events_rolling_dau_7d": events_rolling_dau_7d,
    "events_conversion_latency": events_conversion_latency,
    "events_user_streaks": events_user_streaks,
    "layout_zorder_events": layout_zorder_events,
    "events_top_paths": events_top_paths,
    "events_resample_15m": events_resample_15m,
    "events_transition_counts": events_transition_counts,
    "events_retention": events_retention,
    "events_ewma": events_ewma,
    "events_holt_daily": events_holt_daily,
    "events_cusum_daily": events_cusum_daily,
    "events_interval_join_binned": events_interval_join_binned,
    "events_window_5s_max": events_window_5s_max,
    "envelope_map_functions": envelope_map_functions,
    "events_window_hourly_by_type": events_window_hourly_by_type,
    "events_sliding_10m_5m": events_sliding_10m_5m,
    "events_sessionize_30m": events_sessionize_30m,
    "events_json_props": events_json_props,
    "events_from_json_typed": events_from_json_typed,
    "envelope_body_roundtrip": envelope_body_roundtrip,
}

ORACLES = {
    "events_funnel": _FUNNEL_SQL,
    "streaming_dedup_twin": _DEDUP_TWIN_SQL,
    "streaming_rollup_twin": _ROLLUP_TWIN_SQL,
    "streaming_cms_topk_twin": _CMS_TOPK_SQL,
    "events_cusum_alarms": _CUSUM_ALARM_SQL,
    "events_cum_distinct_users": _CUM_DISTINCT_SQL,
    "events_rolling_dau_7d": _ROLLING_DAU_SQL,
    "events_conversion_latency": _CONVERSION_SQL,
    "events_user_streaks": _STREAKS_SQL,
    "layout_zorder_events": _zorder_sql(),
    "events_top_paths": _TOP_PATHS_SQL,
    "events_resample_15m": _RESAMPLE_SQL,
    "events_transition_counts": _TRANSITION_SQL,
    "events_retention": _RETENTION_SQL,
    "events_ewma": _EWMA_SQL,
    "events_holt_daily": _HOLT_SQL,
    "events_cusum_daily": _CUSUM_SQL,
    "events_interval_join_binned": _INTERVAL_BINNED_SQL,
    "events_window_5s_max": _W5S_SQL,
    "envelope_map_functions": _MAP_FUNCS_SQL,
    "events_window_hourly_by_type": _WHOUR_SQL,
    "events_sliding_10m_5m": _WSLIDE_SQL,
    "events_sessionize_30m": _SESSION_SQL,
    "events_json_props": _JSON_SQL,
    "events_from_json_typed": _FROM_JSON_SQL,
    "envelope_body_roundtrip": _ENVELOPE_SQL,
}
