"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference has no stateful operators at all (DStream ``reduceByWindow``
recomputes from the window's RDDs, SURVEY §2C "Streaming-only"); this is
the upgrade path for per-key running state the task brief calls for
("applyInPandasWithState for custom stateful operators").

``running_device_stats`` keeps (count, max) per device across micro-
batches — the stateful generalization of the temperature example: instead
of a max per 5 s window, the all-time max and message count per address,
updated incrementally with O(keys) state.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("device", StringType()),
        StructField("n_messages", LongType()),
        StructField("max_value", DoubleType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("n_messages", LongType()),
        StructField("max_value", DoubleType()),
    ]
)


def _set_event_time_ttl(state: GroupState, last_ts_ms: int | None, ttl_ms: int) -> None:
    """Arm an event-time TTL: evict when the watermark passes the key's
    last event + ttl.  Floored at watermark+1 because Spark rejects a
    timeout timestamp at or below the current watermark (a key whose
    events lag the global watermark by more than the TTL is due
    immediately — next batch)."""
    wm = state.getCurrentWatermarkMs()
    due = wm + 1 if last_ts_ms is None else max(last_ts_ms + ttl_ms, wm + 1)
    state.setTimeoutTimestamp(due)


def _make_update(ttl_ms: int | None):
    """Build the per-key update fn; with a TTL, idle keys are EVICTED via
    EventTimeTimeout (state stays O(active keys), not O(keys ever) — the
    100 TB requirement for unbounded key spaces).  Event-time (not
    processing-time) TTL so eviction is deterministic under replay /
    backfill and doesn't require the engine to poll wall-clock timers
    with continuous empty micro-batches."""

    def _update(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if ttl_ms is not None and state.hasTimedOut:
            state.remove()  # idle past TTL: drop, emit nothing
            return
        n, mx = state.get if state.exists else (0, float("-inf"))
        last_ts_ms: int | None = None
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                mx = max(mx, float(pdf["value"].max()))
                if ttl_ms is not None:
                    t = int(pdf["ts"].max().value // 1_000_000)
                    last_ts_ms = t if last_ts_ms is None else max(last_ts_ms, t)
        state.update((n, mx))
        if ttl_ms is not None:
            _set_event_time_ttl(state, last_ts_ms, ttl_ms)
        yield pd.DataFrame(
            {"device": [key[0]], "n_messages": [n], "max_value": [mx]}
        )

    return _update


FUNNEL_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("stage", StringType()),
        StructField("t_view", DoubleType()),
        StructField("t_click", DoubleType()),
        StructField("t_purchase", DoubleType()),
    ]
)

FUNNEL_STATE_SCHEMA = StructType(
    [
        StructField("t_view", DoubleType()),
        StructField("t_click", DoubleType()),
        StructField("t_purchase", DoubleType()),
    ]
)

_STAGES = ("view", "click", "purchase")


def _make_funnel_update(ttl_ms: int | None):
    def _funnel_update(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if ttl_ms is not None and state.hasTimedOut:
            state.remove()  # abandoned funnel: evict, emit nothing
            return
        tv, tc, tp = state.get if state.exists else (None, None, None)
        rows: list[tuple[float, str]] = []
        for pdf in pdfs:
            rows.extend(zip(pdf["ts"].astype("int64") / 1e9, pdf["event_type"]))
        # event-time order within the batch; state enforces order across batches
        for ts, etype in sorted(rows):
            if etype == "view" and tv is None:
                tv = ts
            elif etype == "click" and tv is not None and tc is None and ts > tv:
                tc = ts
            elif etype == "purchase" and tc is not None and tp is None and ts > tc:
                tp = ts
        state.update((tv, tc, tp))
        if ttl_ms is not None:
            last_ts_ms = int(max(r[0] for r in rows) * 1000) if rows else None
            _set_event_time_ttl(state, last_ts_ms, ttl_ms)
        stage = "none"
        if tp is not None:
            stage = "purchase"
        elif tc is not None:
            stage = "click"
        elif tv is not None:
            stage = "view"
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "stage": [stage],
                "t_view": [tv],
                "t_click": [tc],
                "t_purchase": [tp],
            }
        )

    return _funnel_update


def streaming_funnel(
    events: DataFrame,
    state_ttl_minutes: float | None = 24 * 60,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Per-user strict-sequence funnel as a stateful streaming operator:
    state = the three stage timestamps, advanced only in order
    (view → click → purchase), carried across micro-batches.

    The incremental twin of ``plans.events.events_funnel``: the batch
    version recomputes stage tables per run; this one holds O(users)
    state and emits each user's current stage every batch.  Input needs
    columns (user_id long, event_type string, ts timestamp).

    State is bounded: a user whose last event is more than
    ``state_ttl_minutes`` (default 24 h) behind the event-time watermark
    is evicted via EventTimeTimeout — an unbounded user-id space cannot
    grow the state store without bound, and eviction is deterministic
    under checkpoint replay (event-time, not wall-clock).  ``None``
    keeps state forever (the pre-TTL behavior).

    CONTRACT: enabling event-time TTL subscribes the stream to Spark's
    watermark semantics — input rows arriving more than
    ``watermark_delay`` behind the max observed event time are DROPPED
    before the state function sees them.  Set ``watermark_delay`` to
    your maximum expected lateness (the 1 h default favors not losing
    data; eviction then lags the TTL by the same hour), or pass
    ``state_ttl_minutes=None`` for the drop-nothing unbounded-state
    behavior."""
    ttl_ms = (
        int(state_ttl_minutes * 60_000) if state_ttl_minutes is not None else None
    )
    if ttl_ms is not None:
        events = events.withWatermark("ts", watermark_delay)
    return events.groupBy("user_id").applyInPandasWithState(
        _make_funnel_update(ttl_ms),
        outputStructType=FUNNEL_OUTPUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def running_device_stats(
    envelope: DataFrame,
    state_ttl_minutes: float | None = 24 * 60,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Per-device running (count, max) over the AMQP envelope stream:
    body cast to double, grouped by to_address, state carried across
    micro-batches.

    State is bounded: a device whose last message is more than
    ``state_ttl_minutes`` (default 24 h) behind the ``ingest_ts``
    watermark is evicted via EventTimeTimeout and restarts from zero if
    it reappears; ``None`` keeps state forever (pre-TTL behavior).
    Event-time TTL keeps eviction deterministic under replay and avoids
    the continuous empty micro-batches a wall-clock timeout needs.

    CONTRACT: with TTL enabled the watermark drops rows later than
    ``watermark_delay`` before they reach the state function (see
    ``streaming_funnel``); the 1 h default trades eviction lag for not
    losing late data."""
    from streaming_amqp_spark.envelope import BODY_TYPE_VALUE

    from pyspark.sql import functions as F

    ttl_ms = (
        int(state_ttl_minutes * 60_000) if state_ttl_minutes is not None else None
    )
    vals = envelope.where(F.col("body_type") == BODY_TYPE_VALUE).select(
        F.col("to_address").alias("device"),
        F.col("body").cast("double").alias("value"),
        F.col("ingest_ts").alias("ts"),
    ).where(F.col("value").isNotNull())
    if ttl_ms is not None:
        vals = vals.withWatermark("ts", watermark_delay)
    return vals.groupBy("device").applyInPandasWithState(
        _make_update(ttl_ms),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )
