"""Distribution statistics + deterministic sampling/splitting — the
dataset-curation surface a 100 TB training pipeline needs beyond plain
aggregates.

Scale design:
- Sampling and train/val/test splits are **hash-based** (md5 hex-digit
  buckets), not RNG-based: deterministic across engines, retries, and
  cluster sizes, embarrassingly parallel (a pure per-row predicate that
  pushes into the scan stage — no shuffle, no state), and stable under
  re-partitioning — the only sampling strategy that is reproducible at
  100 TB.  RNG-style ``df.sample``/TABLESAMPLE cannot be oracle-matched
  across engines and is not replayable after a lost executor.
- Exact percentiles shuffle once on the group key; at extreme cardinality
  swap ``percentile`` for ``approx_percentile`` (KLL) — the approx variant
  is covered by ``agg_approx_stats`` (rows-only by design).
- Histograms are floor-division binning: a map-side projection + one agg
  shuffle, the canonical scalable distribution sketch.

Reference provenance: no analogue in radanalyticsio/streaming-amqp (its
only aggregate is a windowed max, AMQPTemperature.scala:97); this module is
part of the BASELINE.json north star ("design every operator for 100 TB").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_amqp_spark.functions.numeric import dsum
from streaming_amqp_spark.tables import fan_out, load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# md5's first hex digit = 16 uniform deterministic buckets.
def _bucket() -> F.Column:
    return F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)


_BUCKET_SQL = "substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)"


def sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1/16 deterministic document sample: rows whose md5 bucket is '0'.

    The predicate is a pure function of doc_id — any engine, any run, any
    partitioning selects the identical sample."""
    d = _t(spark, sf_dir, "documents")
    return d.where(_bucket() == "0").select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("n_tokens")
    )


_SAMPLE_SQL = f"""
SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
FROM documents
WHERE {_BUCKET_SQL} = '0'
"""


# u in [0,1) from the first 8 md5 hex digits, as the identical 8-term
# left-associated double sum in both engines (no hex→int cast needed:
# DuckDB has no conv(); digit positions come from strpos/locate).
_HEXDIGITS = "0123456789abcdef"


def _uniform_expr_spark() -> str:
    return " + ".join(
        f"((locate(substring(_h, {k}, 1), '{_HEXDIGITS}') - 1)"
        f" / {16.0 ** k!r})"
        for k in range(1, 9)
    )


def _uniform_expr_sql(h: str) -> str:
    return " + ".join(
        f"((strpos('{_HEXDIGITS}', substring({h}, {k}, 1)) - 1)"
        f" / {16.0 ** k!r})"
        for k in range(1, 9)
    )


def sample_weighted_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic WEIGHTED sampling — keep each document with
    probability equal to its type-token ratio (a quality-proportional
    inclusion rule): doc kept iff u(doc) < w(doc), where u is a uniform
    [0,1) value derived from md5(doc_id) digit-by-digit (identical
    8-term double sum in both engines — no RNG, no hex→int cast) and w
    is the exact-integer-ratio weight.  Completes the sampling family
    (uniform / stratified / top-k / split are all hash-based already).

    Per source the panel reports kept counts against the DECIMAL-exact
    expected value Σw with a 3·sqrt(expected)+1 concentration boolean —
    the unbiasedness sanity a weighted sampler ships with (deterministic
    given the data: u is a hash, not a draw).

    Scale: the keep decision is a pure per-row predicate that fuses into
    the scan (same property as sample_deterministic — reproducible under
    retries, speculation and any partitioning); the only shuffle is the
    |sources|-row aggregate."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    w = (
        F.size(F.array_distinct(toks)).cast("double")
        / F.size(toks).cast("double")
    )
    base = d.withColumn(
        "_h", F.md5(F.col("doc_id").cast("string"))
    ).withColumn("_u", F.expr(_uniform_expr_spark())).withColumn("_w", w)
    agg = base.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("_u") < F.col("_w")).cast("long")).alias("n_sampled"),
        F.sum(F.round(F.col("_w"), 9).cast("decimal(38,12)"))
        .cast("double")
        .alias("expected_sampled"),
    )
    within = F.abs(
        F.col("n_sampled") - F.col("expected_sampled")
    ) <= F.lit(3.0) * F.sqrt(F.col("expected_sampled")) + F.lit(1.0)
    return agg.select(
        "source",
        "n_docs",
        "n_sampled",
        "expected_sampled",
        within.alias("within_3sigma"),
    )


_WEIGHTED_SAMPLE_SQL = f"""
WITH b AS (
  SELECT source,
         {_uniform_expr_sql("md5(CAST(doc_id AS VARCHAR))")} AS u,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS w
  FROM documents
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN u < w THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       CAST(sum(CAST(round(w, 9) AS DECIMAL(38,12))) AS DOUBLE)
         AS expected_sampled,
       abs(CAST(sum(CASE WHEN u < w THEN 1 ELSE 0 END) AS BIGINT)
           - CAST(sum(CAST(round(w, 9) AS DECIMAL(38,12))) AS DOUBLE))
         <= 3.0 * sqrt(CAST(sum(CAST(round(w, 9) AS DECIMAL(38,12)))
                            AS DOUBLE)) + 1.0
         AS within_3sigma
FROM b
GROUP BY source
"""


def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-split the corpus 75/12.5/12.5 (hex digits 0-b / c-d / e-f) and
    report per-split volume — the reproducible train/val/test assignment."""
    d = _t(spark, sf_dir, "documents")
    split = (
        F.when(_bucket().isin(*list("0123456789ab")), "train")
        .when(_bucket().isin("c", "d"), "val")
        .otherwise("test")
    )
    return (
        d.select(
            split.alias("split"), F.size(F.split("text", " ")).alias("n_tok"), "doc_id"
        )
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


_SPLIT_SQL = f"""
SELECT CASE WHEN {_BUCKET_SQL} IN ('0','1','2','3','4','5','6','7','8','9','a','b')
            THEN 'train'
            WHEN {_BUCKET_SQL} IN ('c','d') THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       min(doc_id) AS min_doc_id,
       max(doc_id) AS max_doc_id
FROM documents
GROUP BY split
"""


def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped percentiles (p25/p50/p75/p90/p99) of extended price.

    Spark's ``percentile`` and DuckDB's ``quantile_cont`` share the
    (p·(n−1)) linear-interpolation definition, so the doubles match
    bit-for-bit (verified empirically)."""
    # On a narrow scan the exact-percentile partial aggregate would build
    # its per-group value multiset on ONE task and then shuffle the
    # serialized multisets.  Fanning the (flag, price) projection out by
    # the GROUP KEY replaces the aggregate's own exchange (subset rule),
    # so the heavy multiset state never crosses the wire — raw 10-byte
    # rows do, once (sf0.1: 1.65 → 0.93 s).  A wide scan keeps the scale
    # plan: per-split partials, then the multiset exchange.
    li = fan_out(
        _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice"),
        "l_returnflag",
    )
    pct = F.percentile("l_extendedprice", F.lit([0.25, 0.5, 0.75, 0.9, 0.99]))
    return li.groupBy("l_returnflag").agg(
        pct.getItem(0).alias("p25"),
        pct.getItem(1).alias("p50"),
        pct.getItem(2).alias("p75"),
        pct.getItem(3).alias("p90"),
        pct.getItem(4).alias("p99"),
        F.count("*").alias("n"),
    )


_PCTL_SQL = """
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.25) AS p25,
       quantile_cont(l_extendedprice, 0.50) AS p50,
       quantile_cont(l_extendedprice, 0.75) AS p75,
       quantile_cont(l_extendedprice, 0.90) AS p90,
       quantile_cont(l_extendedprice, 0.99) AS p99,
       count(*) AS n
FROM lineitem
GROUP BY l_returnflag
"""


def hist_order_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-value histogram: 25k-wide floor-division bins with per-bin
    count and exact-decimal mass."""
    orders = _t(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / F.lit(25000.0)).cast("long")
    return (
        orders.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice", "total_value"),
        )
        .withColumn("bucket_lo", F.col("bucket").cast("double") * 25000.0)
    )


_HIST_SQL = """
SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bucket,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       CAST(CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS DOUBLE) * 25000.0
         AS bucket_lo
FROM orders
GROUP BY bucket
"""


def events_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score anomaly detection: events whose value lies
    more than 3 standard deviations from their type's mean.

    Determinism: mean/std come from exact DECIMAL sums (the
    agg_variance_corr convention — sum order cannot perturb them), so the
    per-event |v − mean| > 3σ comparison evaluates identically in both
    engines.  Scale: one agg shuffle for the 5-row per-type stats,
    broadcast back onto the scan — the flagging pass is map-side."""
    ev = _t(spark, sf_dir, "events")
    # the ingest gate (tables.EVENTS_VALUE_DOMAIN) guarantees |value| <
    # 1e12, so this cast cannot overflow; try_cast on the second-moment
    # BIGINT hop marks where the exact-moment convention's domain ends
    # (see agg_variance_corr) instead of CAST_OVERFLOW killing the job
    v = F.col("value").cast("decimal(18,6)")
    n = F.count("*").cast("double")
    s1 = F.sum(v).cast("double")
    s2 = F.round(F.sum(v * v), 0).try_cast("long").cast("double")
    stats = ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        (s1 / n).alias("mean_value"),
        # Degenerate-group hardening (1-row-corpus probe, r11), mirrored
        # in the oracle: try_divide makes a one-event type's σ NULL
        # (DuckDB's DOUBLE/0) instead of an ANSI crash, and the CASE
        # clamps a constant-value type's tiny negative rounding residue
        # before sqrt (DuckDB errors on sqrt(-ε); NULL propagates
        # through when(NULL < 0) → otherwise)
        F.sqrt(
            F.when(
                F.try_divide(s2 - s1 * s1 / n, n - F.lit(1.0)) < 0,
                F.lit(0.0),
            ).otherwise(F.try_divide(s2 - s1 * s1 / n, n - F.lit(1.0)))
        ).alias("std_value"),
    )
    flagged = (
        ev.join(F.broadcast(stats), "event_type")
        .where(
            F.abs(F.col("value") - F.col("mean_value"))
            > F.lit(3.0) * F.col("std_value")
        )
        .groupBy("event_type")
        .agg(F.count("*").alias("n_anomalies"))
    )
    return (
        stats.join(F.broadcast(flagged), "event_type", "left")
        .select(
            "event_type",
            "n_events",
            F.round("mean_value", 6).alias("mean_value"),
            F.round("std_value", 6).alias("std_value"),
            F.coalesce("n_anomalies", F.lit(0)).alias("n_anomalies"),
        )
    )


_ZSCORE_SQL = """
WITH stats0 AS (
  SELECT event_type,
         count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS mean_value,
         (CAST(TRY_CAST(round(sum(CAST(value AS DECIMAL(18,6))
                      * CAST(value AS DECIMAL(18,6))), 0) AS BIGINT) AS DOUBLE)
          - CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
            * CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
            / CAST(count(*) AS DOUBLE))
         / (CAST(count(*) AS DOUBLE) - 1.0) AS var_value
  FROM events GROUP BY event_type
),
-- mirror of the Spark-side hardening: x/0 is NULL in DuckDB
-- (≡ try_divide), CASE clamps the sqrt(-ε) rounding residue and
-- propagates NULL
stats AS (
  SELECT event_type, n_events, mean_value,
         sqrt(CASE WHEN var_value < 0 THEN 0.0 ELSE var_value END)
           AS std_value
  FROM stats0
),
flagged AS (
  SELECT e.event_type, count(*) AS n_anomalies
  FROM events e JOIN stats s USING (event_type)
  WHERE abs(e.value - s.mean_value) > 3.0 * s.std_value
  GROUP BY e.event_type
)
SELECT s.event_type, s.n_events,
       round(s.mean_value, 6) AS mean_value,
       round(s.std_value, 6) AS std_value,
       CAST(coalesce(f.n_anomalies, 0) AS BIGINT) AS n_anomalies
FROM stats s LEFT JOIN flagged f ON f.event_type = s.event_type
"""


def events_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection per event type: median absolute deviation
    (MAD) instead of mean/σ — a single extreme burst inflates σ and masks
    itself, while the median/MAD pair is unmoved by up to 50% outliers.
    Flags events with |value − median| > 5·MAD.

    Determinism: ``percentile`` ≡ DuckDB ``quantile_cont`` bit-for-bit
    (linear interpolation at p·(n−1)); |v − med| is a pure double op, so
    both percentile passes and the flag comparison evaluate identically
    in both engines.  Scale: exact MAD is inherently two dependent
    percentile passes (deviations need the median first) + one flagging
    pass — three scans, each shuffling only the 5-row per-type stats;
    medians come back broadcast so every pass over raw events is
    map-side.  The 5-row med/mad relations are materialized once per
    query — every branch that references them would otherwise re-derive
    them from raw events and the plan balloons to 7 scans
    (review-caught).  (A one-scan approximate twin would swap in
    ``percentile_approx`` sketches, the agg_approx_stats pattern.)"""
    ev = _t(spark, sf_dir, "events")
    med = (
        ev.groupBy("event_type")
        .agg(
            F.percentile("value", F.lit(0.5)).alias("median_value"),
            F.count("*").alias("n_events"),
        )
        .localCheckpoint(eager=False)
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("median_value")).alias("d")
    )
    mad = (
        dev.groupBy("event_type")
        .agg(F.percentile("d", F.lit(0.5)).alias("mad_value"))
        .localCheckpoint(eager=False)
    )
    stats = med.join(F.broadcast(mad), "event_type")
    flagged = (
        ev.join(F.broadcast(stats), "event_type")
        .where(
            F.abs(F.col("value") - F.col("median_value"))
            > F.lit(5.0) * F.col("mad_value")
        )
        .groupBy("event_type")
        .agg(F.count("*").alias("n_anomalies"))
    )
    return stats.join(F.broadcast(flagged), "event_type", "left").select(
        "event_type",
        "n_events",
        "median_value",
        "mad_value",
        F.coalesce("n_anomalies", F.lit(0)).alias("n_anomalies"),
    )


_MAD_SQL = """
WITH med AS (
  SELECT event_type,
         quantile_cont(value, 0.5) AS median_value,
         count(*) AS n_events
  FROM events GROUP BY event_type
),
mad AS (
  SELECT e.event_type,
         quantile_cont(abs(e.value - m.median_value), 0.5) AS mad_value
  FROM events e JOIN med m USING (event_type)
  GROUP BY e.event_type
),
flagged AS (
  SELECT e.event_type, count(*) AS n_anomalies
  FROM events e
  JOIN med m USING (event_type)
  JOIN mad d USING (event_type)
  WHERE abs(e.value - m.median_value) > 5.0 * d.mad_value
  GROUP BY e.event_type
)
SELECT m.event_type, m.n_events, m.median_value, d.mad_value,
       CAST(coalesce(f.n_anomalies, 0) AS BIGINT) AS n_anomalies
FROM med m
JOIN mad d USING (event_type)
LEFT JOIN flagged f ON f.event_type = m.event_type
"""


_SKEW_COLS = ("user_id", "event_type")


def skew_key_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostic for the events table: per candidate
    join/agg key — rows, distinct keys, max rows per key, p99 rows per
    key, and the heaviest key's share of the table.  This is the report
    you read BEFORE picking a 100 TB partitioning: top1_share ≈ 1/n_keys
    means uniform (hash-partition freely); top1_share ≫ 1/n_keys means
    salt or AQE-skew-join (operators.scale.salted_join).

    One scan per analyzed key (the per-key count is a different grouping
    each time — not fusable); each scan's output is |keys| rows and the
    final report is one row per key column."""
    ev = _t(spark, sf_dir, "events")
    parts = []
    for c in _SKEW_COLS:
        per_key = ev.groupBy(c).agg(F.count("*").alias("cnt"))
        parts.append(
            per_key.agg(
                F.lit(c).alias("key_column"),
                F.sum("cnt").alias("n_rows"),
                F.count("*").alias("n_keys"),
                F.max("cnt").alias("max_per_key"),
                F.percentile("cnt", F.lit(0.99)).alias("p99_per_key"),
                (
                    F.max("cnt").cast("double")
                    / F.sum("cnt").cast("double")
                ).alias("top1_share"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


_SKEW_SQL = "\nUNION ALL\n".join(
    f"""
SELECT '{c}' AS key_column,
       CAST(sum(cnt) AS BIGINT) AS n_rows,
       count(*) AS n_keys,
       max(cnt) AS max_per_key,
       quantile_cont(cnt, 0.99) AS p99_per_key,
       CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS top1_share
FROM (SELECT {c}, count(*) AS cnt FROM events GROUP BY {c})"""
    for c in _SKEW_COLS
)


def customer_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-order gap statistics per customer: days between consecutive
    orders via lag over a per-customer window, aggregated to order count,
    median and max gap.  Gaps are exact integer day differences, so the
    median interpolates identical values in both engines; single-order
    customers surface with NULL gaps (count n_gaps = 0), not silently
    dropped."""
    from pyspark.sql import Window as W

    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).alias("gap_days"),
    )
    return gaps.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        F.count("gap_days").alias("n_gaps"),
        F.percentile("gap_days", F.lit(0.5)).alias("median_gap_days"),
        F.max("gap_days").alias("max_gap_days"),
    )


_ORDER_GAPS_SQL = """
WITH gaps AS (
  SELECT o_custkey,
         datediff('day',
                  lag(o_orderdate) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey),
                  o_orderdate) AS gap_days
  FROM orders
)
SELECT o_custkey,
       count(*) AS n_orders,
       count(gap_days) AS n_gaps,
       quantile_cont(gap_days, 0.5) AS median_gap_days,
       max(gap_days) AS max_gap_days
FROM gaps
GROUP BY o_custkey
"""


def events_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour activity heatmap with per-cell distinct users —
    the load-shape report capacity planning starts from.  Day-of-week is
    computed as days-since-a-known-Monday mod 7 (0=Mon..6=Sun) because
    the engines' native dow functions disagree on numbering (Spark
    Sun=1..7, DuckDB Sun=0..6); the explicit arithmetic is identical
    everywhere.  One shuffle on the 7×24 key space."""
    ev = _t(spark, sf_dir, "events")
    dow = F.pmod(
        F.datediff(
            F.date_trunc("day", F.col("ts")).cast("date"),
            F.lit("2024-01-01").cast("date"),  # a Monday
        ),
        F.lit(7),
    )
    return ev.groupBy(
        dow.alias("dow"), F.hour("ts").alias("hour")
    ).agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
    )


_DOW_HOUR_SQL = """
SELECT ((datediff('day', DATE '2024-01-01',
                  CAST(date_trunc('day', ts) AS DATE)) % 7) + 7) % 7 AS dow,
       CAST(extract(hour FROM ts) AS INTEGER) AS hour,
       count(*) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY 1, 2
"""


def orders_backlog_sweepline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog curve via the sweep-line pattern: +1 at order
    date, −1 at the order's last ship date, then a running sum over the
    per-day delta aggregate — O(rows) total instead of the naive per-day
    interval join's O(days × orders).  The window runs over |days| rows
    (the per-day aggregate), never raw orders."""
    from pyspark.sql import Window as W

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    done = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("end_day"))
    spans = o.join(
        done, o.o_orderkey == done.l_orderkey
    ).select(F.col("o_orderdate").alias("start_day"), "end_day")
    # r15: the old opens/closes UNION referenced spans twice, and with
    # no DAG CSE the orders ⋈ lineitem-max join ran per side (4 table
    # scans where 2 suffice).  Exploding each span into its two (day,
    # delta) endpoint rows map-side emits the identical row multiset in
    # one pass.
    endpoints = spans.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("start_day").alias("day"),
                    F.lit(1).alias("delta"),
                ),
                F.struct(
                    F.col("end_day").alias("day"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("e")
    ).select("e.day", "e.delta")
    daily = (
        endpoints
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("delta") > 0, 1).otherwise(0)).alias(
                "n_opened"
            ),
            F.sum(F.when(F.col("delta") < 0, 1).otherwise(0)).alias(
                "n_closed"
            ),
            F.sum("delta").alias("net_delta"),
        )
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return daily.withColumn(
        "open_backlog", F.sum("net_delta").over(w)
    ).select("day", "n_opened", "n_closed", "open_backlog")


_BACKLOG_SQL = """
WITH spans AS (
  SELECT o.o_orderdate AS start_day, d.end_day
  FROM orders o
  JOIN (SELECT l_orderkey, max(l_shipdate) AS end_day
        FROM lineitem GROUP BY l_orderkey) d
    ON d.l_orderkey = o.o_orderkey
),
deltas AS (
  SELECT start_day AS day, 1 AS delta FROM spans
  UNION ALL
  SELECT end_day AS day, -1 AS delta FROM spans
),
daily AS (
  SELECT day,
         CAST(sum(CASE WHEN delta > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_opened,
         CAST(sum(CASE WHEN delta < 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_closed,
         CAST(sum(delta) AS BIGINT) AS net_delta
  FROM deltas GROUP BY day
)
SELECT day, n_opened, n_closed,
       CAST(sum(net_delta) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS open_backlog
FROM daily
"""


_PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderdate",
    "o_orderstatus",
    "o_orderpriority",
)

# The string-typed profile columns: min/max over these is what forces a
# whole-table aggregate into the interpreted SortAggregate fallback
# (string aggregation buffers are not mutable-width), so the exact path
# computes them on the distinct-pairs side instead (r16).
_PROFILE_STR_COLS = ("o_orderstatus", "o_orderpriority")


# approx_count_distinct's default relative standard deviation is 0.05;
# 3 sigma bounds the (deterministic-given-the-data) HLL estimate — the
# agg_approx_stats convention.
_PROFILE_HLL_BOUND = 3 * 0.05


def profile_table(
    spark: SparkSession, sf_dir: str, exact: bool = True
) -> DataFrame:
    """Data-profiling report for the orders table: per column — row count,
    null count, distinct count, min and max (stringified AFTER the typed
    min/max, so numeric order is preserved), plus the HLL sketch's
    distinct estimate reduced to a "within its published 3·rsd error
    bound of the exact count" boolean.  Doubles are excluded: their
    string rendering is engine-specific; everything profiled here (ints,
    dates, strings) stringifies identically in both engines.

    Scale (VERDICT r4: the earlier single-aggregate multi-distinct
    compiled to an Expand×6 + SortAggregate whose shuffle carried every
    key of key-like columns — not the 100 TB plan, and 2.2 s even at
    sf0.1):
    - ``exact=False`` is the 100 TB path: ONE scan, fixed-size HLL state
      per column, no Expand, no value shuffle — profiling cost is the
      read.
    - ``exact=True`` (registered, so the sketch's error claim is
      oracle-checkable) grounds the bound boolean with an exact side
      built hash-only: a second scan unpivots rows into (column, value)
      pairs and counts distinct pairs via two HashAggregates — no
      SortAggregate, no 6-way Expand of full rows.  The distinct-pair
      shuffle is inherently O(distinct values); that cost is exactly why
      the sketch path exists, and the exact side would be dropped at
      scale."""
    o = load_table(spark, sf_dir, "orders")
    # r16 (guide §2.3/§7.2): min/max over the two STRING columns made
    # the whole-table pass fall back to an INTERPRETED SortAggregate
    # (string buffers are not mutable-width; no whole-stage codegen, no
    # star in the executed plan) — flat at sf0.1 but the wrong per-row
    # cost for a 100 TB scan.  On the exact path the string min/max now
    # ride the distinct-pairs side (min over the distinct value set ==
    # min over all values), so every whole-relation aggregate here is a
    # codegen HashAggregate; the sketch-only path keeps them in its
    # single pass (its contract is ONE scan, and a second scan would
    # cost more than the interpreted evaluation saves).
    aggs: list[F.Column] = [F.count("*").alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"null_{c}"),
            F.approx_count_distinct(c).alias(f"apx_{c}"),
        ]
        if not exact or c not in _PROFILE_STR_COLS:
            aggs += [
                F.min(c).cast("string").alias(f"min_{c}"),
                F.max(c).cast("string").alias(f"max_{c}"),
            ]
    one = o.agg(*aggs)
    if exact:
        # placeholders keep the stack() arg list uniform; the real
        # values come from the distinct-pairs branch below
        for c in _PROFILE_STR_COLS:
            one = one.withColumn(f"min_{c}", F.lit(None).cast("string"))
            one = one.withColumn(f"max_{c}", F.lit(None).cast("string"))
    stack_args = ", ".join(
        f"{i}, '{c}', null_{c}, apx_{c}, min_{c}, max_{c}"
        for i, c in enumerate(_PROFILE_COLS)
    )
    stacked = one.selectExpr(
        "n_rows",
        f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
        "(cid, column_name, n_null, approx_distinct, min_val, max_val)",
    )
    if not exact:
        return stacked.select(
            "column_name",
            "n_rows",
            "n_null",
            "approx_distinct",
            "min_val",
            "max_val",
        )
    pairs = o.select(
        F.posexplode(
            F.array(*[F.col(c).cast("string") for c in _PROFILE_COLS])
        ).alias("cid", "val")
    ).where(F.col("val").isNotNull())
    # the distinct relation feeds BOTH the per-column counts and the
    # string min/max (no DAG CSE — without the lazy checkpoint the
    # explode+distinct would run twice); at scale the exact side is
    # dropped anyway (docstring), so materializing O(distinct) here is
    # the bench-path trade only
    dpairs = pairs.distinct().localCheckpoint(eager=False)
    dist = dpairs.groupBy("cid").agg(F.count("*").alias("n_distinct"))
    str_cids = [
        i for i, c in enumerate(_PROFILE_COLS) if c in _PROFILE_STR_COLS
    ]
    # string min/max over the distinct-ENUM rows only: a grouping-free
    # aggregate (keys=[] — no Sort node) whose input is the ≤
    # |status|+|priority| distinct values, bounded at any corpus scale;
    # min over a column's distinct set == min over the column
    sm_aggs: list[F.Column] = []
    for i in str_cids:
        v = F.when(F.col("cid") == i, F.col("val"))
        sm_aggs += [
            F.min(v).alias(f"smin_{i}"),
            F.max(v).alias(f"smax_{i}"),
        ]
    sm = dpairs.where(F.col("cid").isin(*str_cids)).agg(*sm_aggs)
    mn_val, mx_val = F.col("min_val"), F.col("max_val")
    for i in str_cids:
        mn_val = F.when(F.col("cid") == i, F.col(f"smin_{i}")).otherwise(
            mn_val
        )
        mx_val = F.when(F.col("cid") == i, F.col(f"smax_{i}")).otherwise(
            mx_val
        )
    # LEFT join + coalesce keeps the row-per-column contract even for an
    # all-NULL column (no distinct pairs → no dist row, but the oracle
    # emits n_distinct=0 for it; ADVICE r5).
    nd = F.coalesce(F.col("n_distinct"), F.lit(0))
    within = (
        F.abs(F.col("approx_distinct") - nd) <= F.lit(_PROFILE_HLL_BOUND) * nd
    )
    return (
        stacked.join(F.broadcast(dist), "cid", "left")
        .crossJoin(F.broadcast(sm))
        .select(
            "column_name",
            "n_rows",
            "n_null",
            nd.alias("n_distinct"),
            within.alias("dist_within_bound"),
            mn_val.alias("min_val"),
            mx_val.alias("max_val"),
        )
    )


_PROFILE_SQL = "\nUNION ALL\n".join(
    f"""
SELECT '{c}' AS column_name,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       TRUE AS dist_within_bound,
       CAST(min({c}) AS VARCHAR) AS min_val,
       CAST(max({c}) AS VARCHAR) AS max_val
FROM orders"""
    for c in _PROFILE_COLS
)


SEASONAL_TOP_K = 10


def events_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly ranking: per (day, hour) event-count
    cell, the deviation from the (day-of-week, hour) SEASONAL baseline
    (mean/sd across the weeks in range) as a z-score, reporting the
    TOP-K most anomalous cells — the upgrade over
    events_zscore_anomaly's global baseline that stops flagging every
    ordinary Monday-morning peak.  Ranked rather than thresholded BY
    DESIGN: a fixed sigma cut is domain-specific and goes vacuous on a
    well-behaved corpus (this fixture's max |z| is ~2.0 at every sf);
    the on-call review list is "the K worst cells", whatever their z.

    Determinism: counts are exact integers; mean/variance come from the
    exact (k, sum n, sum n^2) triple with the division and subtraction
    spelled in the identical order in both engines; dow is the portable
    days-since-a-known-Monday arithmetic (events_dow_hour_heatmap);
    ranking ties break on (day, hour).

    Scale: one shuffle to (day, hour) cells (bounded by the time range,
    not event volume), a broadcast join against the 168-row seasonal
    baseline, and a TakeOrdered top-K."""
    ev = _t(spark, sf_dir, "events")
    dow = F.pmod(
        F.datediff(
            F.date_trunc("day", F.col("ts")).cast("date"),
            F.lit("2024-01-01").cast("date"),  # a Monday
        ),
        F.lit(7),
    )
    cells = ev.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        dow.alias("dow"),
        F.hour("ts").alias("hour"),
    ).agg(F.count("*").alias("n_events"))
    base = cells.groupBy("dow", "hour").agg(
        F.count("*").alias("k"),
        F.sum("n_events").alias("sn"),
        F.sum(F.col("n_events") * F.col("n_events")).alias("sn2"),
    )
    mean = F.col("sn").cast("double") / F.col("k")
    var = F.col("sn2").cast("double") / F.col("k") - mean * mean
    joined = cells.join(F.broadcast(base), ["dow", "hour"]).select(
        "day",
        "hour",
        "n_events",
        mean.alias("expected"),
        F.sqrt(var).alias("sd"),
    )
    return (
        joined.where(F.col("sd") > 0)
        .select(
            "day",
            "hour",
            "n_events",
            "expected",
            (
                (F.col("n_events") - F.col("expected")) / F.col("sd")
            ).alias("z"),
        )
        .orderBy(F.abs(F.col("z")).desc(), "day", "hour")
        .limit(SEASONAL_TOP_K)
    )


_SEASONAL_SQL = """
WITH cells AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         ((datediff('day', DATE '2024-01-01',
                    CAST(date_trunc('day', ts) AS DATE)) % 7) + 7) % 7
           AS dow,
         CAST(extract(hour FROM ts) AS INTEGER) AS hour,
         count(*) AS n_events
  FROM events GROUP BY 1, 2, 3
),
base AS (
  SELECT dow, hour, count(*) AS k,
         CAST(sum(n_events) AS BIGINT) AS sn,
         CAST(sum(n_events * n_events) AS BIGINT) AS sn2
  FROM cells GROUP BY 1, 2
),
joined AS (
  SELECT c.day, c.hour, CAST(c.n_events AS BIGINT) AS n_events,
         CAST(b.sn AS DOUBLE) / b.k AS expected,
         sqrt(CAST(b.sn2 AS DOUBLE) / b.k
              - (CAST(b.sn AS DOUBLE) / b.k) * (CAST(b.sn AS DOUBLE) / b.k))
           AS sd
  FROM cells c JOIN base b ON b.dow = c.dow AND b.hour = c.hour
)
SELECT day, hour, n_events, expected,
       (n_events - expected) / sd AS z
FROM joined
WHERE sd > 0
ORDER BY abs((n_events - expected) / sd) DESC, day, hour
LIMIT 10
"""


QUERIES = {
    "sample_deterministic": sample_deterministic,
    "events_seasonal_anomaly": events_seasonal_anomaly,
    "sample_weighted_bernoulli": sample_weighted_bernoulli,
    "profile_table": profile_table,
    "split_train_val_test": split_train_val_test,
    "agg_percentiles": agg_percentiles,
    "hist_order_totalprice": hist_order_totalprice,
    "events_zscore_anomaly": events_zscore_anomaly,
    "events_mad_anomaly": events_mad_anomaly,
    "skew_key_report": skew_key_report,
    "customer_order_gaps": customer_order_gaps,
    "events_dow_hour_heatmap": events_dow_hour_heatmap,
    "orders_backlog_sweepline": orders_backlog_sweepline,
}

ORACLES = {
    "sample_deterministic": _SAMPLE_SQL,
    "events_seasonal_anomaly": _SEASONAL_SQL,
    "sample_weighted_bernoulli": _WEIGHTED_SAMPLE_SQL,
    "profile_table": _PROFILE_SQL,
    "split_train_val_test": _SPLIT_SQL,
    "agg_percentiles": _PCTL_SQL,
    "hist_order_totalprice": _HIST_SQL,
    "events_zscore_anomaly": _ZSCORE_SQL,
    "events_mad_anomaly": _MAD_SQL,
    "skew_key_report": _SKEW_SQL,
    "customer_order_gaps": _ORDER_GAPS_SQL,
    "events_dow_hour_heatmap": _DOW_HOUR_SQL,
    "orders_backlog_sweepline": _BACKLOG_SQL,
}
