"""Loaders for the driver's deterministic parquet tables (TESTDATA.md).

Columnar parquet scans give Catalyst predicate pushdown + column pruning
for free; every query in ``plans``/``operators`` builds on these readers so
the scan is the narrowest projection the query needs.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

EMBEDDING_DIMS = 64

# Ingest gates (round-11 NULL/NaN corpus probe): the two columns where
# non-finite / malformed data realistically arrives in production —
# embedding vectors and the free-form events.value metric — get a DEFINED
# degenerate-input semantic, applied identically in the engine
# (load_table, below) and in every DuckDB oracle (gate_oracle_sql,
# applied once at registry collection):
#
# - embeddings: a vector that is NULL, has the wrong dimensionality, or
#   contains a NULL/NaN/Inf element is INVALID and excluded from index,
#   queries, and training (the standard ANN ingest gate).  Unguarded,
#   such vectors poisoned every distance fold differently per engine.
# - events.value: a NaN/Inf metric value, or one whose magnitude lies
#   outside the exact-DECIMAL(18,6) aggregation domain (|v| >= 1e12 —
#   the narrowest decimal view any query takes of the metric), is
#   treated as MISSING (NULL) — the row keeps counting for
#   sessionization/windows, but the metric drops out of aggregates.
#   Unguarded, the exact-DECIMAL convention is undefined there: Spark's
#   decimal cast silently maps non-finite to NULL while DuckDB errors
#   on the cast, and an in-range-double but out-of-DECIMAL(18,6) value
#   (the r12 extreme-corpus probe: a 1e12 telemetry counter) crashes
#   BOTH engines' casts with NUMERIC_VALUE_OUT_OF_RANGE mid-job.
# - events.ts: a NULL timestamp, or one outside [1900-01-01,
#   2200-01-01), DROPS the row (r14 temporal-extremes corpus).  An
#   events row exists to be placed in time; a bad-clock timestamp
#   (device sends year 9999) is quarantined at ingest because the
#   densifying operators (events_resample_15m materializes the
#   min→max slot grid; burst binning explodes hour sequences) would
#   otherwise turn ONE corrupt row into a multi-hundred-million-row
#   grid in BOTH engines — the classic single-poison-pill OOM at
#   100 TB.  Pre-epoch timestamps are VALID (negative epoch
#   arithmetic is exercised by the temporal corpus); the bounds are
#   generous enough for any real telemetry.
EVENTS_VALUE_DOMAIN = 1e12  # DECIMAL(18,6): 12 integer digits
EVENTS_TS_MIN = "1900-01-01"
EVENTS_TS_MAX = "2200-01-01"  # exclusive

ORACLE_INGEST_GATES: dict[str, str] = {
    "embeddings": (
        "SELECT * FROM embeddings WHERE embedding IS NOT NULL"
        f" AND len(embedding) = {EMBEDDING_DIMS}"
        " AND len(list_filter(embedding,"
        " x -> x IS NULL OR NOT isfinite(x))) = 0"
    ),
    "events": (
        "SELECT * REPLACE (CASE WHEN value IS NULL OR (isfinite(value)"
        f" AND abs(value) < {EVENTS_VALUE_DOMAIN!r})"
        " THEN value END AS value) FROM events"
        " WHERE ts IS NOT NULL"
        f" AND ts >= TIMESTAMP '{EVENTS_TS_MIN}'"
        f" AND ts < TIMESTAMP '{EVENTS_TS_MAX}'"
    ),
}

_GATE_RE = re.compile(
    r"\b(FROM|JOIN)\s+(embeddings|events)\b"
    r"(?:\s+(?:AS\s+)?"
    r"(?!ON\b|USING\b|WHERE\b|GROUP\b|ORDER\b|HAVING\b|LIMIT\b|UNION\b"
    r"|LEFT\b|RIGHT\b|INNER\b|CROSS\b|JOIN\b|WINDOW\b|AS\b"
    r"|FULL\b|NATURAL\b|ASOF\b|SEMI\b|ANTI\b|POSITIONAL\b|LATERAL\b"
    r"|QUALIFY\b)"
    r"([A-Za-z_]\w*))?",
    re.IGNORECASE,
)

# loud-failure guards (ADVICE r11): an oracle the rewriter cannot handle
# must fail at registration, not silently bypass the gate
_UNGATED_RE = re.compile(r"\b(?:FROM|JOIN)\s+(?:embeddings|events)\b",
                         re.IGNORECASE)
_CTE_SHADOW_RE = re.compile(
    r"(?:\bWITH\b(?:\s+RECURSIVE\b)?|,)\s*(embeddings|events)"
    r"\s*(?:\([^)]*\))?\s+AS\s*(?:NOT\s+)?(?:MATERIALIZED\s*)?\(",
    re.IGNORECASE,
)


def gate_oracle_sql(sql: str) -> str:
    """Rewrite every oracle read of a gated table to go through its
    ingest-gate subquery, preserving an explicit alias when one follows
    and re-aliasing to the table name otherwise (bare reads may use
    table-qualified column refs).

    Raises ValueError (at registry collection — import time for the
    driver contract) when the oracle is one the rewriter cannot handle
    soundly: a CTE shadowing a gated table name (the rewrite would
    re-gate the CTE reference against the BASE table), or any
    ``FROM/JOIN embeddings|events`` read that survives the rewrite
    outside an injected gate subquery.  A nonconforming future oracle
    fails loudly here instead of silently diverging only on malformed
    data (ADVICE r11)."""
    if _CTE_SHADOW_RE.search(sql):
        raise ValueError(
            "oracle defines a CTE named after a gated table "
            "(embeddings/events); rename the CTE — the ingest-gate "
            "rewriter cannot distinguish it from the base table"
        )

    def _sub(m: re.Match) -> str:
        kw, tbl, alias = m.group(1), m.group(2).lower(), m.group(3)
        return f"{kw} ({ORACLE_INGEST_GATES[tbl]}) {alias or tbl}"

    out = _GATE_RE.sub(_sub, sql)
    residue = out
    for gate in ORACLE_INGEST_GATES.values():
        residue = residue.replace(gate, "")
    leftover = _UNGATED_RE.search(residue)
    if leftover:
        raise ValueError(
            f"ungated read survived the ingest-gate rewrite: "
            f"{leftover.group(0)!r} — extend _GATE_RE rather than "
            "shipping an oracle that bypasses the gate"
        )
    return out


def ensure_runtime_confs(spark: SparkSession) -> None:
    """Apply the confs correctness depends on to a caller-provided session
    (the verify driver builds its own vanilla SparkSession — the session
    factory's settings are not guaranteed to be present)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Cached plans (the shared shingle/posting indexes in the dedup family)
    # otherwise pin the static spark.sql.shuffle.partitions width: letting
    # AQE re-plan the cached output partitioning keeps every downstream
    # stage right-sized whatever the session's static setting is (a vanilla
    # 200 at sf0.01, thousands on a real cluster).
    spark.conf.set(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    ensure_runtime_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # events.ts has shipped as TIMESTAMP(NANOS) (Spark reads a nanos
        # long under legacy.parquet.nanosAsLong) and as timestamp[us]
        # (Spark reads TIMESTAMP_NTZ).  Normalize either encoding to the
        # session-UTC TimestampType every downstream plan assumes; with
        # spark.sql.session.timeZone=UTC the NTZ cast is value-preserving
        # and matches DuckDB's naive-timestamp reading of the same file.
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        elif ts_type != "timestamp":
            # fail at the load site, not deep in a downstream plan, if the
            # shipped encoding changes again
            raise TypeError(
                f"events.ts: unexpected parquet dtype {ts_type!r}; expected "
                "bigint (legacy nanos), timestamp_ntz, or timestamp"
            )
        # ingest gates (see ORACLE_INGEST_GATES): non-finite or
        # out-of-DECIMAL(18,6)-domain metric -> NULL; NULL or
        # out-of-domain timestamp -> row dropped (bad-clock quarantine)
        v = F.col("value")
        in_domain = ~F.isnan(v) & (F.abs(v) < F.lit(EVENTS_VALUE_DOMAIN))
        df = df.withColumn("value", F.when(v.isNull() | in_domain, v))
        ts = F.col("ts")
        df = df.where(
            ts.isNotNull()
            & (ts >= F.lit(EVENTS_TS_MIN).cast("timestamp"))
            & (ts < F.lit(EVENTS_TS_MAX).cast("timestamp"))
        )
    elif name == "embeddings":
        # ingest gate (see ORACLE_INGEST_GATES): malformed vectors are
        # excluded from index, queries, and training
        from pyspark.sql import functions as F

        bad = F.filter(
            F.col("embedding"),
            lambda x: x.isNull()
            | F.isnan(x)
            | (F.abs(x) == F.lit(float("inf"))),
        )
        df = df.where(
            F.col("embedding").isNotNull()
            & (F.size("embedding") == EMBEDDING_DIMS)
            & (F.size(bad) == 0)
        )
    return df


def shared_cache(spark: SparkSession, key: tuple, build) -> DataFrame:
    """Session-scoped registry of cached relations: at most ONE cached
    DataFrame per key, reused across query invocations, for ONE corpus
    at a time.

    Only a session artifact belongs here: a relation that at least two
    registered queries read.  Its key is ``(kind, sf_dir)`` plus operator
    constants, with ``kind`` a string literal; it never includes a
    caller's DataFrame or a per-query bound.  A subplan that only one
    query references more than once is materialized once per query with
    ``localCheckpoint(eager=False)`` instead, and a subplan referenced
    once gets no materialization at all.

    The registry holds the corpus (``key[1]``) it was last asked for: a
    key from another corpus first unpersists and drops every entry, so
    a long-lived session over several corpora holds one corpus's
    artifacts, and one corpus never evicts its own.  Eviction is
    semantics-neutral: a re-referenced relation recomputes.

    A bare ``.cache()`` inside an operator pins a NEW InMemoryRelation in
    the session's storage memory on every call and nothing ever
    unpersists it; keying the cache on the session bounds entries to the
    distinct keys actually used.  Callers that mutate inputs in place
    must call ``clear_shared_cache``.
    """
    reg = getattr(spark, "_saq_shared_cache", None)
    if reg is None:
        reg = spark._saq_shared_cache = {}
    df = reg.get(key)
    if df is None:
        if any(k[1] != key[1] for k in reg):
            clear_shared_cache(spark)
        df = reg[key] = build().cache()
    return df


def clear_shared_cache(spark: SparkSession) -> None:
    """Unpersist and drop every shared_cache entry.

    For measurement harnesses (bench's sf1 slope panel, the 100x scale
    probe): a slope that compares two WARM runs of a cache-backed
    operator times only the non-cached tail — for the ANN family that
    excludes exactly the linear-in-N Lloyd-training / exact-baseline
    cost the slope exists to measure (ADVICE r8).  Clearing between
    timed iterations makes each run pay the full build cost.
    """
    reg = getattr(spark, "_saq_shared_cache", None)
    if reg:
        for df in reg.values():
            df.unpersist(blocking=False)
        reg.clear()


def fan_out(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition by ``keys`` to the session's default parallelism
    when, and only when, the scan is narrower than that.

    A one-row-group parquet file scans as one task, so a compute-heavy
    per-row projection (shingling, minhash, PQ encode) or a partial
    aggregate over it would run single-core.  An input with at least as
    many splits as cores already parallelizes, and ``df`` is returned
    unchanged: no corpus shuffle is added at scale.  The width probe
    (``getNumPartitions``) is driver-side physical planning; no job runs.
    Filters on top still push down to the scan through the repartition.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    return df if df.rdd.getNumPartitions() >= n else df.repartition(n, *keys)


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, register_views: bool = False
) -> dict[str, DataFrame]:
    """Load every test table; optionally register each as a temp view so the
    SQL entry points (``spark.sql``) see the same names DuckDB does."""
    out: dict[str, DataFrame] = {}
    for name in TABLE_NAMES:
        df = load_table(spark, sf_dir, name)
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out
