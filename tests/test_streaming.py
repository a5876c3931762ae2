"""Streaming tests, shaped like the reference's integration suites
(SURVEY §5): inject known messages, run the pipeline, compare collected
output.  The spool transport stands in for the embedded broker / in-process
ProtonServer harness (AMQPTestUtils.scala:66-91,213-266)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from streaming_amqp_spark.envelope import ENVELOPE_SCHEMA
from tests.conftest import envelope_rows
from streaming_amqp_spark.sources.amqp import register_amqp_source
from streaming_amqp_spark.streaming.windows import (
    streaming_dedup,
    temperature_max_per_window,
)


def _write_spool(tmp_path, messages, fname="000.jsonl"):
    spool = tmp_path / "spool"
    spool.mkdir(exist_ok=True)
    with open(spool / fname, "w") as f:
        for m in messages:
            f.write(json.dumps(m) + "\n")
    return str(spool)


def _temperature_messages():
    """5 temperature readings 1 s apart, values 20-24 — the reference
    example's send loop (AMQPTemperature.scala:166-181)."""
    return [
        {
            "message_id": f"m{i}",
            "to_address": "temperature",
            "body": str(20 + i),
            "ingest_ts": f"2024-01-01T00:00:{i + 3:02d}",
        }
        for i in range(5)
    ]


def _run_stream_to_memory(spark, df, name, output_mode="append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {name}")


@pytest.fixture()
def amqp(spark):
    register_amqp_source(spark)
    return spark


def test_envelope_roundtrip_all_body_shapes(amqp, tmp_path):
    """The five body shapes of the reference test matrix: string, list,
    map, array, binary (AMQPBrokerStreamSuite.scala:77-259), plus the
    int body that MatchErrors in the reference (SURVEY §7.4.3)."""
    import base64

    messages = [
        {"message_id": "s", "body": "Spark Streaming & AMQP"},
        {"message_id": "l", "body": ["a string", 1, 2]},
        {"message_id": "m", "body": {"field_a": "a string", "field_b": 1}},
        {"message_id": "ar", "body": [1, 2]},
        {
            "message_id": "b",
            "body_b64": base64.b64encode(b"Spark Streaming & AMQP").decode(),
        },
        {"message_id": "i", "body": 42},
    ]
    spool = _write_spool(tmp_path, messages)
    df = (
        amqp.readStream.format("amqp")
        .option("transport", "spool")
        .option("spooldir", spool)
        .load()
    )
    assert df.schema == ENVELOPE_SCHEMA
    out = _run_stream_to_memory(amqp, df, "envelope_out")
    rows = {r.message_id: r for r in out.collect()}
    assert len(rows) == 6
    assert rows["s"].body == "Spark Streaming & AMQP"
    assert rows["s"].body_type == "amqpValue"
    assert json.loads(rows["l"].body) == ["a string", 1, 2]
    assert json.loads(rows["m"].body) == {"field_a": "a string", "field_b": 1}
    assert json.loads(rows["ar"].body) == [1, 2]
    assert rows["b"].body_type == "data"
    assert bytes(rows["b"].body_binary) == b"Spark Streaming & AMQP"
    assert rows["i"].body == "42"  # total mapping, no MatchError


def test_processing_vs_event_time_windows_differ(amqp, tmp_path):
    """SURVEY §7.4.4: both window semantics exist and the difference is
    observable.  Five readings whose EVENT times span 20 s arrive in one
    micro-batch: event-time windows split them (2+ windows), the
    processing-time twin puts the whole batch in one window — the
    reference's reduceByWindow behavior."""
    from streaming_amqp_spark.envelope import body_as
    from streaming_amqp_spark.streaming.windows import processing_time_agg

    msgs = [
        {
            "message_id": f"m{i}",
            "body": str(20 + i),
            "ingest_ts": f"2024-01-01T00:00:{5 * i:02d}",  # 0,5,10,15,20 s
        }
        for i in range(5)
    ]
    spool = _write_spool(tmp_path, msgs)

    def env():
        return (
            amqp.readStream.format("amqp")
            .option("transport", "spool")
            .option("spooldir", str(spool))
            .load()
        )

    event = temperature_max_per_window(env(), window="5 seconds")
    out_event = _run_stream_to_memory(
        amqp, event, "evt_windows", output_mode="complete"
    )
    assert out_event.count() == 5  # one event-time window per reading

    proc = processing_time_agg(
        body_as(env(), "int", alias="temperature"),
        [F.max("temperature").alias("max_temperature")],
        window="5 seconds",
    )
    out_proc = _run_stream_to_memory(
        amqp, proc, "proc_windows", output_mode="complete"
    )
    rows = out_proc.collect()
    # the whole batch shares one arrival stamp -> exactly one window,
    # whose max is the batch max (the reference's per-batch semantics)
    assert len(rows) == 1 and rows[0].max_temperature == 24


def test_streaming_dedup_on_rocksdb_state_store(amqp, tmp_path):
    """The scale-grade state store (SURVEY §7.4.5): the same stateful
    dedup runs correctly with RocksDB state instead of the executor-heap
    default — state spills to disk, the 100 TB streaming-state path."""
    from streaming_amqp_spark.session import use_rocksdb_state_store

    prev = amqp.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    use_rocksdb_state_store(amqp)
    try:
        msgs = [
            {
                "message_id": f"m{i % 4}",  # 10 arrivals, 4 distinct ids
                "body": str(i),
                "ingest_ts": "2024-01-01T00:00:01",
            }
            for i in range(10)
        ]
        spool = _write_spool(tmp_path, msgs)
        env = (
            amqp.readStream.format("amqp")
            .option("transport", "spool")
            .option("spooldir", spool)
            .load()
        )
        dd = env.withWatermark(
            "ingest_ts", "10 seconds"
        ).dropDuplicatesWithinWatermark(["message_id"])
        out = _run_stream_to_memory(amqp, dd, "rocksdb_dedup_out")
        assert sorted(r.message_id for r in out.collect()) == [
            "m0",
            "m1",
            "m2",
            "m3",
        ]
    finally:
        if prev is None:
            amqp.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            amqp.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


def test_continuous_hourly_rollup_updates_only_changed_partitions(
    amqp, tmp_path
):
    """Continuous materialized aggregate (streaming/rollup.py): two waves
    through the same checkpoint; a late message updates its hour's
    partition in place, untouched hours keep their files, and the final
    store equals a batch recomputation over all messages."""
    import os

    from streaming_amqp_spark.streaming.rollup import (
        hourly_rollup_agg,
        start_continuous_rollup,
    )

    spool = tmp_path / "spool"
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def msg(i, ts, addr="a", body="10"):
        return {
            "message_id": f"m{i}",
            "to_address": addr,
            "body": body,
            "ingest_ts": ts,
        }

    def run_wave(messages, fname):
        _write_spool(tmp_path, messages, fname=fname)
        env = (
            amqp.readStream.format("amqp")
            .option("transport", "spool")
            .option("spooldir", str(spool))
            .load()
        )
        q = start_continuous_rollup(env, store, ckpt)
        q.processAllAvailable()
        q.stop()

    run_wave(
        [
            msg(0, "2024-01-01T00:10:00"),
            msg(1, "2024-01-01T00:15:00", addr="b", body="2"),  # same hour
            msg(2, "2024-01-01T01:10:00", body="7"),
        ],
        "000.jsonl",
    )
    h01_files = set(os.listdir(f"{store}/hour=2024010101/address=a"))

    run_wave(
        [
            msg(3, "2024-01-01T00:20:00", body="5"),  # late: updates (00, a)
            msg(4, "2024-01-01T02:10:00", body="3"),  # new hour 02
        ],
        "001.jsonl",
    )

    got = {
        # partition-column type inference reads hour= back as int
        (str(r.hour), r.address): (r.n_messages, r.sum_value)
        for r in amqp.read.parquet(store).collect()
    }
    assert got == {
        ("2024010100", "a"): (2, 15.0),
        # (00, b) was NOT in wave 2's update output — the overwrite must
        # not touch its partition (the full grouping key is partitioned)
        ("2024010100", "b"): (1, 2.0),
        ("2024010101", "a"): (1, 7.0),
        ("2024010102", "a"): (1, 3.0),
    }
    # untouched (hour 01, a) partition was not rewritten by wave 2
    assert set(os.listdir(f"{store}/hour=2024010101/address=a")) == h01_files

    # the store equals a batch recomputation over the full message set
    env_all = (
        amqp.read.format("amqp")
        .option("transport", "spool")
        .option("spooldir", str(spool))
        .load()
    )
    batch = {
        (str(r.hour), r.address): (r.n_messages, r.sum_value)
        for r in hourly_rollup_agg(env_all).collect()
    }
    assert batch == got


def test_streaming_cdc_chunk_dedup(amqp, tmp_path):
    """CDC chunking is a stateless projection, so it runs unchanged on a
    stream; composed with dropDuplicates on the chunk hash it becomes
    streaming chunk-level dedup — a shared paragraph arriving in a later
    message is emitted once."""
    from streaming_amqp_spark.operators.curation import text_chunk_cdc

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    msgs = [
        {"message_id": "1", "body": f"intro one two {shared}"},
        {"message_id": "2", "body": f"different lead-in {shared} trailer"},
    ]
    spool = _write_spool(tmp_path, msgs)
    env = (
        amqp.readStream.format("amqp")
        .option("transport", "spool")
        .option("spooldir", spool)
        .load()
    )
    docs = env.select(
        F.col("message_id").alias("doc_id"), F.col("body").alias("text")
    )
    chunks = text_chunk_cdc(amqp, "", docs=docs)
    deduped = chunks.select(
        F.md5("chunk_text").alias("chunk_hash"), "chunk_text"
    ).dropDuplicates(["chunk_hash"])
    assert deduped.isStreaming
    out = _run_stream_to_memory(amqp, deduped, "cdc_dedup_out")
    texts = [r.chunk_text for r in out.collect()]
    assert len(texts) == len(set(texts))  # no duplicate chunk survives
    # both docs contributed chunks, and at least one chunk came out of the
    # shared span's tokens (boundaries inside the span align across docs
    # after the first in-span boundary)
    joined = " ".join(texts)
    for tok in shared.split():
        assert tok in joined


def test_temperature_window_query(amqp, tmp_path):
    """The canonical end-to-end query: max temperature per 5 s window
    (AMQPTemperature.scala:94-99)."""
    spool = _write_spool(tmp_path, _temperature_messages())
    env = (
        amqp.readStream.format("amqp")
        .option("transport", "spool")
        .option("spooldir", spool)
        .load()
    )
    agg = temperature_max_per_window(env, window="5 seconds")
    # complete mode ≡ the reference's per-batch print of every window
    # (append mode would hold windows open until the watermark passes them,
    # which a finite spool never does)
    out = _run_stream_to_memory(amqp, agg, "temp_out", output_mode="complete")
    got = {
        (r.window_start.isoformat(), r.max_temperature) for r in out.collect()
    }
    # ts 3-7 s: window [00:00, 00:05) holds 20,21 → max 21;
    #           window [00:05, 00:10) holds 22,23,24 → max 24
    assert got == {
        ("2024-01-01T00:00:00", 21),
        ("2024-01-01T00:00:05", 24),
    }


def test_incremental_batches_and_offsets(amqp, tmp_path):
    """Messages arriving across triggers are consumed exactly once per
    offset range (delivery-count fixture, AMQPServerStreamSuite.scala:66-96)."""
    msgs = _temperature_messages()
    spool = _write_spool(tmp_path, msgs[:3])
    env = (
        amqp.readStream.format("amqp")
        .option("transport", "spool")
        .option("spooldir", spool)
        .load()
    )
    q = (
        env.selectExpr("message_id")
        .writeStream.format("memory")
        .queryName("inc_out")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    _write_spool(tmp_path, msgs[3:], fname="001.jsonl")
    q.processAllAvailable()
    q.stop()
    ids = sorted(r.message_id for r in amqp.sql("SELECT * FROM inc_out").collect())
    assert ids == ["m0", "m1", "m2", "m3", "m4"]


def test_max_messages_per_batch_admission(amqp, tmp_path):
    """Credit-window admission control: no micro-batch admits more than
    maxMessagesPerBatch (≡ 1000-credit window, AMQPFlowController.scala:55)."""
    msgs = [
        {"message_id": f"m{i}", "body": str(i), "ingest_ts": "2024-01-01T00:00:00"}
        for i in range(10)
    ]
    spool = _write_spool(tmp_path, msgs)
    env = (
        amqp.readStream.format("amqp")
        .option("transport", "spool")
        .option("spooldir", spool)
        .option("maxMessagesPerBatch", "4")
        .load()
    )
    q = (
        env.writeStream.format("memory")
        .queryName("adm_out")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert amqp.sql("SELECT count(*) n FROM adm_out").collect()[0].n == 10
    progress = [
        json.loads(p) if isinstance(p, str) else p for p in q.recentProgress
    ]
    batch_sizes = [p["numInputRows"] for p in progress]
    assert all(b <= 4 for b in batch_sizes)
    assert any(b > 0 for b in batch_sizes)


def test_streaming_dedup(amqp, tmp_path):
    """Stateful dedup on message_id within the watermark."""
    msgs = _temperature_messages()
    dup = [dict(m) for m in msgs[:2]]  # redelivered (at-least-once) copies
    spool = _write_spool(tmp_path, msgs + dup)
    env = (
        amqp.readStream.format("amqp")
        .option("transport", "spool")
        .option("spooldir", spool)
        .load()
    )
    deduped = streaming_dedup(env, keys=["message_id"], watermark="1 minute")
    out = _run_stream_to_memory(amqp, deduped.select("message_id"), "dedup_out")
    ids = sorted(r.message_id for r in out.collect())
    assert ids == ["m0", "m1", "m2", "m3", "m4"]


def test_checkpoint_recovery(amqp, tmp_path):
    """Stop/restart against the same checkpoint resumes from the committed
    offset and does not re-emit consumed messages (≡ StreamingContext.
    getOrCreate recovery, AMQPTemperature.scala:61)."""
    msgs = _temperature_messages()
    spool = _write_spool(tmp_path, msgs[:3])
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def start():
        env = (
            amqp.readStream.format("amqp")
            .option("transport", "spool")
            .option("spooldir", spool)
            .load()
        )
        # file sink: supports checkpoint recovery (memory sink does not)
        # and is the exactly-once sink path
        return (
            env.selectExpr("message_id")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    q1 = start()
    q1.processAllAvailable()
    q1.stop()
    ids1 = sorted(r.message_id for r in amqp.read.parquet(out_dir).collect())
    assert ids1 == ["m0", "m1", "m2"]

    _write_spool(tmp_path, msgs[3:], fname="001.jsonl")
    q2 = start()  # fresh reader instance, same checkpoint
    q2.processAllAvailable()
    q2.stop()
    ids = sorted(r.message_id for r in amqp.read.parquet(out_dir).collect())
    assert ids == ["m0", "m1", "m2", "m3", "m4"], (
        f"restart re-emitted or lost messages: {ids}"
    )


def test_stateful_running_device_stats(amqp, tmp_path):
    """Custom stateful operator (applyInPandasWithState): per-device
    running count/max across micro-batches."""
    from streaming_amqp_spark.streaming.stateful import running_device_stats

    msgs = _temperature_messages()  # values 20-24 on address 'temperature'
    spool = _write_spool(tmp_path, msgs[:3])
    env = (
        amqp.readStream.format("amqp")
        .option("transport", "spool")
        .option("spooldir", spool)
        .load()
    )
    stats = running_device_stats(env)
    q = (
        stats.writeStream.format("memory")
        .queryName("dev_stats")
        .outputMode("update")
        .start()
    )
    q.processAllAvailable()
    _write_spool(tmp_path, msgs[3:], fname="001.jsonl")
    q.processAllAvailable()
    q.stop()
    # update-mode memory sink appends one row per state update; the last
    # row for the device carries the final running stats
    rows = amqp.sql(
        "SELECT * FROM dev_stats WHERE device = 'temperature'"
    ).collect()
    assert rows, "no state output emitted"
    final = rows[-1]
    assert final.n_messages == 5
    assert final.max_value == 24.0


def test_stateful_state_ttl_evicts_idle_key(amqp, tmp_path):
    """Bounded state: a device whose last event falls state_ttl_minutes
    behind the watermark is evicted (EventTimeTimeout) and restarts from
    zero when it reappears — the O(active-keys) guarantee an unbounded
    key space needs at scale.  Event-time driven: no wall-clock sleeps,
    deterministic under replay."""
    from streaming_amqp_spark.streaming.stateful import running_device_stats

    def msg(addr, hhmmss, body):
        return {
            "message_id": f"{addr}{body}",
            "to_address": addr,
            "body": str(body),
            "ingest_ts": f"2024-01-01T{hhmmss}",
        }

    spool = _write_spool(tmp_path, [msg("a", "00:00:01", 1), msg("b", "00:00:02", 2)])
    env = (
        amqp.readStream.format("amqp")
        .option("transport", "spool")
        .option("spooldir", spool)
        .load()
    )
    stats = running_device_stats(
        env, state_ttl_minutes=1.0, watermark_delay="0 seconds"
    )  # evict after 60 s of event-time idleness
    q = (
        stats.writeStream.format("memory")
        .queryName("ttl_stats")
        .outputMode("update")
        .start()
    )
    q.processAllAvailable()  # batch 1: a and b seen; watermark -> 00:00:02
    # b jumps 10 min ahead; after this batch the watermark (00:10:00) is
    # far past a's timeout (last event 00:00:01 + 60 s)
    _write_spool(tmp_path, [msg("b", "00:10:00", 3)], fname="001.jsonl")
    q.processAllAvailable()
    # next batch evaluates timeouts against the advanced watermark: 'a'
    # is evicted here
    _write_spool(tmp_path, [msg("b", "00:10:01", 5)], fname="002.jsonl")
    q.processAllAvailable()
    # 'a' reappears: must restart from FRESH state (n=1), not resume n=2
    _write_spool(tmp_path, [msg("a", "00:10:02", 4)], fname="003.jsonl")
    q.processAllAvailable()
    q.stop()
    a_rows = amqp.sql(
        "SELECT * FROM ttl_stats WHERE device = 'a' ORDER BY max_value"
    ).collect()
    # first appearance counted 1; post-eviction reappearance restarts at 1
    # (without eviction the second row would read n_messages=2)
    assert [(r.n_messages, r.max_value) for r in a_rows] == [(1, 1.0), (1, 4.0)]
    b_rows = amqp.sql(
        "SELECT * FROM ttl_stats WHERE device = 'b' ORDER BY n_messages"
    ).collect()
    assert b_rows[-1].n_messages == 3  # active key keeps accumulating


def test_max_rate_per_second_limits_admission(amqp, tmp_path):
    """Rate limiting ≡ the reference's latent rate controllers
    (AMQPRateController.scala): each batch admits ≈ rate × elapsed, never
    the whole backlog at once, and nothing is lost."""
    msgs = [
        {"message_id": f"m{i}", "body": str(i), "ingest_ts": "2024-01-01T00:00:00"}
        for i in range(30)
    ]
    spool = _write_spool(tmp_path, msgs)
    env = (
        amqp.readStream.format("amqp")
        .option("transport", "spool")
        .option("spooldir", spool)
        .option("maxRatePerSecond", "10")
        .load()
    )
    q = (
        env.writeStream.format("memory")
        .queryName("rate_out")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert amqp.sql("SELECT count(*) n FROM rate_out").collect()[0].n == 30
    progress = [
        json.loads(p) if isinstance(p, str) else p for p in q.recentProgress
    ]
    sizes = [p["numInputRows"] for p in progress if p["numInputRows"] > 0]
    # the first batch sees elapsed=1.0s → ≤10 rows; the backlog drains over
    # multiple batches rather than one
    assert sizes and sizes[0] <= 10
    assert len(sizes) >= 2


def test_streaming_session_windows(amqp, tmp_path):
    """session_window with a 10 s gap: two bursts on one device form two
    sessions (the session-window upgrade the reference lacks, SURVEY §2C)."""
    from streaming_amqp_spark.streaming.windows import session_agg

    msgs = [
        {"message_id": f"a{i}", "to_address": "d1", "body": "1",
         "ingest_ts": f"2024-01-01T00:00:{i:02d}"}
        for i in (0, 3, 6)      # burst 1: 0-6 s
    ] + [
        {"message_id": f"b{i}", "to_address": "d1", "body": "1",
         "ingest_ts": f"2024-01-01T00:01:{i:02d}"}
        for i in (0, 2)         # burst 2: 60-62 s (gap 54 s > 10 s)
    ]
    spool = _write_spool(tmp_path, msgs)
    env = (
        amqp.readStream.format("amqp")
        .option("transport", "spool")
        .option("spooldir", spool)
        .load()
    )
    sess = session_agg(
        env,
        aggs=[F.count("*").alias("n_msgs")],
        gap="10 seconds",
        keys=["to_address"],
    )
    out = _run_stream_to_memory(amqp, sess, "sess_out", output_mode="complete")
    got = {
        (r.session_start.isoformat(), r.session_end.isoformat(), r.n_msgs)
        for r in out.collect()
    }
    # session end = last event + gap
    assert got == {
        ("2024-01-01T00:00:00", "2024-01-01T00:00:16", 3),
        ("2024-01-01T00:01:00", "2024-01-01T00:01:12", 2),
    }


def test_streaming_sliding_windows(amqp, tmp_path):
    """Sliding windows (10 s / 5 s): events land in two overlapping windows."""
    from streaming_amqp_spark.streaming.windows import sliding_agg

    msgs = [
        {"message_id": "m1", "body": "7", "ingest_ts": "2024-01-01T00:00:06"},
    ]
    spool = _write_spool(tmp_path, msgs)
    env = (
        amqp.readStream.format("amqp")
        .option("transport", "spool")
        .option("spooldir", spool)
        .load()
    )
    slid = sliding_agg(env, aggs=[F.count("*").alias("n")], window="10 seconds",
                       slide="5 seconds")
    out = _run_stream_to_memory(amqp, slid, "slide_out", output_mode="complete")
    starts = sorted(r.window_start.isoformat() for r in out.collect())
    # ts=6s → windows starting at 0s and 5s
    assert starts == ["2024-01-01T00:00:00", "2024-01-01T00:00:05"]


def test_malformed_messages_dropped_and_counted(amqp, tmp_path):
    """Converter-crash semantics resolved per SURVEY §7.4.2: a message the
    converter can't parse is dropped (stream survives) and counted — never
    the unreliable-receiver crash of AMQPReceiver.scala:161."""
    spool = tmp_path / "spool"
    spool.mkdir()
    with open(spool / "000.jsonl", "w") as f:
        f.write('{"message_id": "ok1", "body": "1"}\n')
        f.write("{not json at all\n")
        f.write('"a bare string, not an envelope"\n')
        f.write('{"message_id": "ok2", "body": "2"}\n')
    df = (
        amqp.readStream.format("amqp")
        .option("transport", "spool")
        .option("spooldir", str(spool))
        .load()
    )
    out = _run_stream_to_memory(amqp, df, "malformed_out")
    ids = sorted(r.message_id for r in out.collect())
    assert ids == ["ok1", "ok2"]

    from streaming_amqp_spark.sources.amqp import SpoolTransport

    t = SpoolTransport(str(spool))
    t.fetch(10)
    assert t.malformed == 2


def test_stateful_streaming_funnel(amqp, tmp_path):
    """Stateful funnel: stage advances only in order, across micro-batches
    (the incremental twin of plans.events.events_funnel)."""
    from streaming_amqp_spark.streaming.stateful import streaming_funnel

    def msgs(batch):
        # user 1 completes the funnel across two batches; user 2 clicks
        # before viewing (click must NOT advance); purchase before click
        # for user 2 is also ignored.
        b1 = [
            {"message_id": "a", "application_properties": {"user": "1", "type": "view"},
             "ingest_ts": "2024-01-01T00:00:01"},
            {"message_id": "b", "application_properties": {"user": "2", "type": "click"},
             "ingest_ts": "2024-01-01T00:00:02"},
            {"message_id": "c", "application_properties": {"user": "1", "type": "click"},
             "ingest_ts": "2024-01-01T00:00:03"},
        ]
        b2 = [
            {"message_id": "d", "application_properties": {"user": "1", "type": "purchase"},
             "ingest_ts": "2024-01-01T00:00:04"},
            {"message_id": "e", "application_properties": {"user": "2", "type": "purchase"},
             "ingest_ts": "2024-01-01T00:00:05"},
            {"message_id": "f", "application_properties": {"user": "2", "type": "view"},
             "ingest_ts": "2024-01-01T00:00:06"},
        ]
        return b1 if batch == 1 else b2

    spool = _write_spool(tmp_path, msgs(1))
    env = (
        amqp.readStream.format("amqp")
        .option("transport", "spool")
        .option("spooldir", spool)
        .load()
    )
    events = env.select(
        F.col("application_properties")["user"].cast("long").alias("user_id"),
        F.col("application_properties")["type"].alias("event_type"),
        F.col("ingest_ts").alias("ts"),
    )
    out = streaming_funnel(events)
    q = (
        out.writeStream.format("memory")
        .queryName("funnel_state")
        .outputMode("update")
        .start()
    )
    q.processAllAvailable()
    _write_spool(tmp_path, msgs(2), fname="001.jsonl")
    q.processAllAvailable()
    q.stop()
    rows = amqp.sql("SELECT * FROM funnel_state").collect()
    last = {}
    for r in rows:  # memory sink appends per batch; keep the latest per user
        last[r.user_id] = r
    assert last[1].stage == "purchase"
    assert last[1].t_view < last[1].t_click < last[1].t_purchase
    # user 2: early click/purchase ignored; only the late view counts
    assert last[2].stage == "view"
    assert last[2].t_click is None and last[2].t_purchase is None


def test_unreliable_mode_settles_on_receive(amqp, tmp_path):
    """A5 parity: reliable=false ≡ the unreliable receiver's store-as-you-go
    (AMQPReceiver.scala:159-162) — messages settle on receive, so commit
    settles nothing (at-most-once on failure); reliable mode settles
    exactly the committed messages at commit."""
    spool = _write_spool(tmp_path, _temperature_messages())
    df = (
        amqp.readStream.format("amqp")
        .option("transport", "spool")
        .option("spooldir", spool)
        .option("reliable", "false")
        .load()
    )
    out = _run_stream_to_memory(amqp, df, "unreliable_out")
    assert out.count() == 5  # ingestion itself is identical

    from streaming_amqp_spark.sources.amqp import AMQPStreamReader, SpoolTransport

    class RecordingTransport(SpoolTransport):
        def __init__(self, spool_dir):
            super().__init__(spool_dir)
            self.settled: list[int] = []

        def settle(self, n):
            self.settled.append(n)

    r = AMQPStreamReader(
        {"transport": "spool", "spooldir": spool, "reliable": "false"}
    )
    r.transport = RecordingTransport(spool)
    rows, end = r.read(r.initialOffset())
    path = f"{spool}/000.jsonl"
    assert end == {"seq": 5, "files": {path: os.path.getsize(path)}}
    assert len(envelope_rows(rows)) == 5
    r.commit(end)
    assert r.transport.settled == []  # settled on receive, not at commit

    r2 = AMQPStreamReader(
        {"transport": "spool", "spooldir": spool, "reliable": "true"}
    )
    r2.transport = RecordingTransport(spool)
    rows2, end2 = r2.read(r2.initialOffset())
    assert len(envelope_rows(rows2)) == 5
    assert r2.transport.settled == []  # reliable mode holds until commit
    r2.commit(end2)
    assert r2.transport.settled == [5]


def test_watermark_drops_late_data(amqp, tmp_path):
    """The event-time upgrade over the reference (SURVEY §2C/§7.4.4):
    DStreams window by arrival and would count a late record in whatever
    window is current; here a record older than the watermark is dropped
    once its window's state is evicted."""
    from streaming_amqp_spark.streaming.windows import temperature_max_per_window

    batch1 = [
        {"message_id": "a", "body": "21", "ingest_ts": "2024-01-01T00:00:01"},
        {"message_id": "b", "body": "23", "ingest_ts": "2024-01-01T00:00:03"},
        # advances the watermark (5 s delay) past the 00:00:00-05 window
        {"message_id": "c", "body": "30", "ingest_ts": "2024-01-01T00:00:20"},
    ]
    late = [
        # 99 would be the new max of window 0-5 — but that state is evicted
        {"message_id": "z", "body": "99", "ingest_ts": "2024-01-01T00:00:02"},
    ]
    spool = _write_spool(tmp_path, batch1)
    env = (
        amqp.readStream.format("amqp")
        .option("transport", "spool")
        .option("spooldir", spool)
        .load()
    )
    agg = temperature_max_per_window(env, window="5 seconds", watermark="5 seconds")
    q = (
        agg.writeStream.format("memory")
        .queryName("late_data")
        .outputMode("update")
        .start()
    )
    q.processAllAvailable()
    _write_spool(tmp_path, late, fname="001.jsonl")
    q.processAllAvailable()
    q.stop()
    rows = amqp.sql(
        "SELECT max_temperature FROM late_data "
        "WHERE window_start = TIMESTAMP '2024-01-01 00:00:00'"
    ).collect()
    maxes = [r.max_temperature for r in rows]
    assert 23 in maxes, maxes   # the on-time result
    assert 99 not in maxes, maxes  # the late record was dropped


def test_streaming_contamination_scan(amqp, tmp_path):
    """Contamination screening runs on a live ingest stream: incoming
    documents are exploded to 5-gram shingles (stateless projection) and
    stream-static joined against the held-out eval corpus's shingle set
    — the broadcast shape of ``contamination_check`` applied at ingest
    time, so contaminated documents are flagged BEFORE they land in the
    training corpus."""
    from streaming_amqp_spark.functions.text import shingles, tokens
    from streaming_amqp_spark.operators.curation import (
        CONTAM_K,
        EVAL_SOURCE,
    )
    from streaming_amqp_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    ev_docs = load_table(amqp, sf, "documents").where(
        F.col("source") == EVAL_SOURCE
    )
    # grab one genuine eval 5-gram to plant in a message (driver-small)
    sample_text = ev_docs.select("text").first().text
    leaked = " ".join(sample_text.split()[:CONTAM_K])
    msgs = [
        {"message_id": "clean", "body": "entirely novel words nowhere seen"},
        {"message_id": "dirty", "body": f"prefix {leaked} suffix"},
    ]
    spool = _write_spool(tmp_path, msgs)
    env = (
        amqp.readStream.format("amqp")
        .option("transport", "spool")
        .option("spooldir", spool)
        .load()
    )
    eval_shingles = (
        ev_docs.where(F.size(tokens()) >= CONTAM_K)
        .select(F.explode(shingles("text", k=CONTAM_K)).alias("s"))
        .distinct()
    )
    stream_shingles = env.where(
        F.size(tokens("body")) >= CONTAM_K
    ).select(
        "message_id", F.explode(shingles("body", k=CONTAM_K)).alias("s")
    )
    flagged = (
        stream_shingles.join(F.broadcast(eval_shingles), "s")
        .select("message_id")
        .dropDuplicates(["message_id"])
    )
    assert flagged.isStreaming
    out = _run_stream_to_memory(amqp, flagged, "contam_stream_out")
    ids = {r.message_id for r in out.collect()}
    assert ids == {"dirty"}


def test_streaming_dedup_matches_batch_twin(amqp, tmp_path):
    """The registered batch twin (plans.events.dedup_within_delay) makes
    the same keep/drop decisions as the live dropDuplicatesWithinWatermark
    path: kept events open a 60 s suppression window; suppressed
    duplicates do not extend it; once the watermark passes the kept
    event's expiry the key dedups anew.  In-order arrival, 2-message
    micro-batches so the watermark actually advances between waves."""
    from pyspark.sql import functions as F

    from streaming_amqp_spark.plans.events import dedup_within_delay
    from streaming_amqp_spark.streaming.windows import streaming_dedup

    msgs = [  # (addr, ts-seconds): see expiry walk in the docstring
        ("a", 0), ("a", 30),      # batch 1: keep a@0, drop a@30
        ("w", 110), ("w", 130),   # batch 2: keep w@110, drop w@130;
                                  #   raises the watermark to 70 > a's 60 expiry
        ("w2", 135), ("w2", 140),  # batch 3: keep w2@135, drop w2@140;
                                  #   state cleanup runs with wm 70 → evicts a
        ("a", 150), ("a", 170),   # batch 4: keep a@150 anew, drop a@170
    ]
    spool = _write_spool(
        tmp_path,
        [
            {
                "message_id": f"x{i}",
                "to_address": addr,
                "body": "1",
                "ingest_ts": f"2024-01-01T00:{s // 60:02d}:{s % 60:02d}",
            }
            for i, (addr, s) in enumerate(msgs)
        ],
    )
    env = (
        amqp.readStream.format("amqp")
        .option("transport", "spool")
        .option("spooldir", spool)
        .option("maxMessagesPerBatch", "2")
        .load()
    )
    deduped = streaming_dedup(env, keys=["to_address"], watermark="1 minute")
    out = _run_stream_to_memory(
        amqp,
        deduped.select("to_address", F.unix_micros("ingest_ts").alias("tus")),
        "dedup_twin_out",
    )
    streamed = {(r.to_address, r.tus) for r in out.collect()}

    batch = amqp.createDataFrame(
        [(a, f"2024-01-01 00:{s // 60:02d}:{s % 60:02d}") for a, s in msgs],
        "to_address string, ingest_ts string",
    ).select("to_address", F.col("ingest_ts").cast("timestamp").alias("ingest_ts"))
    twin = {
        (r.to_address, r.kept_ts_us)
        for r in dedup_within_delay(
            batch, ["to_address"], "ingest_ts", 60 * 1_000_000
        ).collect()
    }
    assert streamed == twin
    assert len(twin) == 4  # a@0, w@110, w2@135, a@150


def test_streaming_rollup_twin_matches_live_rollup(spark, sf_dir):
    """The registered oracled twin carries the same (hour, address) grain
    and agrees with the live hourly_rollup_agg on every shared measure
    (count and max exactly; sum within the DECIMAL-vs-double ulp)."""
    from streaming_amqp_spark.envelope import events_as_envelope
    from streaming_amqp_spark.plans.events import streaming_rollup_twin
    from streaming_amqp_spark.streaming.rollup import hourly_rollup_agg
    from streaming_amqp_spark.tables import load_table

    env = events_as_envelope(load_table(spark, sf_dir, "events"))
    live = {(r.hour, r.address): r for r in hourly_rollup_agg(env).collect()}
    twin = streaming_rollup_twin(spark, sf_dir).collect()
    assert twin and len(twin) == len(live)
    for r in twin:
        lv = live[(r.hour, r.address)]
        assert lv.n_messages == r.n_messages
        assert lv.max_value == r.max_value
        assert abs(lv.sum_value - r.sum_value) <= 1e-6 * max(
            1.0, abs(r.sum_value)
        )


def test_continuous_cms_store_equals_batch_sketch(amqp, tmp_path):
    """The continuously-maintained CMS store (two waves through one
    checkpoint, stop/restart between them) equals the one-shot batch
    sketch over all messages — CMS linearity makes the complete-mode
    overwrite store exactly mergeable — and point estimates from the
    store never under-count."""
    from streaming_amqp_spark.streaming.cms import (
        cms_cell_agg,
        cms_estimate,
        start_continuous_cms,
    )

    store = str(tmp_path / "cms_store")
    ckpt = str(tmp_path / "cms_ckpt")

    def msgs(lo, hi):
        return [
            {
                "message_id": f"m{i}",
                "to_address": f"addr{i % 7}",  # skewed key space
                "body": "1",
                "ingest_ts": "2024-01-01T00:00:01",
            }
            for i in range(lo, hi)
        ]

    def run_wave(messages, fname):
        _write_spool(tmp_path, messages, fname=fname)
        env = (
            amqp.readStream.format("amqp")
            .option("transport", "spool")
            .option("spooldir", str(tmp_path / "spool"))
            .load()
        )
        q = start_continuous_cms(env, store, ckpt, key_col="to_address")
        q.processAllAvailable()
        q.stop()

    run_wave(msgs(0, 40), "000.jsonl")
    run_wave(msgs(40, 100), "001.jsonl")  # restart from the same checkpoint

    stored = {
        (r.r, r.b): r.cell for r in amqp.read.parquet(store).collect()
    }
    env_all = amqp.createDataFrame(
        [(f"addr{i % 7}",) for i in range(100)], "to_address string"
    )
    batch = {
        (r.r, r.b): r.cell
        for r in cms_cell_agg(env_all, "to_address").collect()
    }
    assert stored == batch

    # probe includes a key the stream NEVER carried: unless all of its
    # CMS_D cells collide with observed keys' cells, some cell row is
    # absent from the store and the estimate must be exactly 0 (the
    # n_cells < CMS_D branch of cms_estimate)
    keys = amqp.createDataFrame(
        [(f"addr{i}",) for i in range(7)] + [("never-sent-key",)],
        "to_address string",
    )
    true_counts = {f"addr{i}": len([j for j in range(100) if j % 7 == i])
                   for i in range(7)}
    true_counts["never-sent-key"] = 0
    est_rows = {
        r.k: r.est
        for r in cms_estimate(
            amqp.read.parquet(store), keys, "to_address"
        ).collect()
    }
    assert len(est_rows) == 8
    for k, est in est_rows.items():
        assert est >= true_counts[k]  # CMS never under-counts
    assert est_rows["never-sent-key"] == 0

    # Serving-level equivalence (VERDICT r5 #2): heavy-hitter top-k from
    # the restart-surviving live store == top-k from the one-shot batch
    # sketch, in (estimate desc, key) order.
    from streaming_amqp_spark.streaming.cms import cms_topk

    live_topk = [
        (r.k, r.est)
        for r in cms_topk(
            amqp.read.parquet(store), keys, "to_address", k=5
        ).collect()
    ]
    batch_topk = [
        (r.k, r.est)
        for r in cms_topk(
            cms_cell_agg(env_all, "to_address"), keys, "to_address", k=5
        ).collect()
    ]
    assert live_topk == batch_topk
    assert len(live_topk) == 5
    ests = [e for _, e in live_topk]
    assert ests == sorted(ests, reverse=True)
    for k, e in live_topk:
        assert e >= true_counts[k]


def test_streaming_sessions_match_batch_islands(amqp, tmp_path):
    """The two sessionization algorithms agree: streaming session_window
    (state-merged, closed by the watermark) produces exactly the sessions
    the batch gaps-and-islands rule (events_sessionize_30m's lag +
    cumulative-split, here at 30 s gap) finds on the same rows — per
    session: same first-event time, same event count, and the streaming
    session_end is last_event + gap by construction."""
    from pyspark.sql import Window as W

    from streaming_amqp_spark.streaming.windows import session_agg

    data = [  # (user, second): no gap lands exactly on the 30 s boundary
        ("u1", 0), ("u1", 10), ("u1", 25),   # session: 3 events @ 0
        ("u1", 70), ("u1", 80),              # gap 45 -> new session @ 70
        ("u2", 5),                            # singleton @ 5
        ("u2", 50),                           # gap 45 -> singleton @ 50
    ]

    def ts(s):
        return f"2024-01-01T00:{s // 60:02d}:{s % 60:02d}"

    _write_spool(
        tmp_path,
        [
            {"message_id": f"s{i}", "to_address": u, "body": "1",
             "ingest_ts": ts(s)}
            for i, (u, s) in enumerate(data)
        ],
    )
    # sentinel in a second micro-batch advances the watermark far past
    # every session end so append mode emits them all as CLOSED
    _write_spool(
        tmp_path,
        [{"message_id": "wm", "to_address": "wm", "body": "1",
          "ingest_ts": ts(500)}],
        fname="001.jsonl",
    )
    env = (
        amqp.readStream.format("amqp")
        .option("transport", "spool")
        .option("spooldir", str(tmp_path / "spool"))
        .load()
    )
    out = session_agg(
        env,
        [F.count("*").alias("n_events")],
        gap="30 seconds",
        keys=["to_address"],
        watermark="0 seconds",
    )
    rows = _run_stream_to_memory(amqp, out, "session_twin_out").collect()
    streamed = {
        (r.to_address, r.session_start, r.n_events)
        for r in rows
        if r.to_address != "wm"
    }
    for r in rows:  # session_window end = last event + gap
        assert (r.session_end - r.session_start).total_seconds() >= 30

    batch = amqp.createDataFrame(
        [(u, ts(s).replace("T", " ")) for u, s in data],
        "to_address string, ingest_ts string",
    ).select(
        "to_address", F.col("ingest_ts").cast("timestamp").alias("ingest_ts")
    )
    w_order = W.partitionBy("to_address").orderBy("ingest_ts")
    w_run = w_order.rowsBetween(W.unboundedPreceding, 0)
    islands = (
        batch.withColumn("prev", F.lag("ingest_ts").over(w_order))
        .withColumn(
            "new_sess",
            F.when(
                F.col("prev").isNull()
                | (
                    F.col("ingest_ts").cast("double")
                    - F.col("prev").cast("double")
                    > 30.0
                ),
                1,
            ).otherwise(0),
        )
        .withColumn("sid", F.sum("new_sess").over(w_run))
        .groupBy("to_address", "sid")
        .agg(
            F.min("ingest_ts").alias("session_start"),
            F.count("*").alias("n_events"),
        )
    )
    expected = {
        (r.to_address, r.session_start, r.n_events)
        for r in islands.collect()
    }
    assert streamed == expected
    assert len(expected) == 4


def test_streaming_bpe_apply_matches_batch(amqp, tmp_path):
    """The learned-merge tokenizer lifted onto the live streaming path
    (VERDICT r5 #3): apply_bpe_merges is a pure projection over a
    broadcast one-row static side, so the SAME call tokenizes the
    envelope body stream — output matches the batch application on the
    identical messages."""
    from streaming_amqp_spark.envelope import body_as
    from streaming_amqp_spark.operators.textstats import (
        apply_bpe_merges,
        bpe_merge_array,
    )

    msgs = [
        {"message_id": "a", "body": "the quick brown fox", "ingest_ts": "2024-01-01T00:00:01"},
        {"message_id": "b", "body": "the quick red fox", "ingest_ts": "2024-01-01T00:00:02"},
        {"message_id": "c", "body": "the quick brown dog runs", "ingest_ts": "2024-01-01T00:00:03"},
        {"message_id": "d", "body": "quick the quick", "ingest_ts": "2024-01-01T00:00:04"},
    ]
    spool = _write_spool(tmp_path, msgs)
    merges = amqp.createDataFrame(
        [(1, "the", "quick"), (2, "the+quick", "brown")],
        "step int, tok_a string, tok_b string",
    )
    marr = bpe_merge_array(merges)

    stream_env = (
        amqp.readStream.format("amqp")
        .option("transport", "spool")
        .option("spooldir", spool)
        .load()
    )
    stream_tok = apply_bpe_merges(
        body_as(stream_env, "string", alias="text"), "text", marr
    )
    out = _run_stream_to_memory(amqp, stream_tok, "bpe_stream_out")
    got = sorted((r.text, r.bpe_text) for r in out.collect())

    batch = amqp.createDataFrame(
        [(m["body"],) for m in msgs], "text string"
    )
    want = sorted(
        (r.text, r.bpe_text)
        for r in apply_bpe_merges(batch, "text", marr).collect()
    )
    assert got == want
    by_text = dict(want)
    assert by_text["the quick brown fox"] == "the+quick+brown fox"
    assert by_text["the quick red fox"] == "the+quick red fox"
    assert by_text["quick the quick"] == "quick the+quick"


def test_cms_topk_serving_after_restart_equals_registered_twin(
    amqp, sf_dir, tmp_path
):
    """Serving-path parity under restart (VERDICT r6 #5): cms_topk over a
    store rebuilt through a kill-and-resume of the continuous CMS query
    equals the driver-oracled batch twin ``streaming_cms_topk_twin`` row
    for row — same keys, same ESTIMATES, same (est desc, key) tie order.
    The stream carries the twin's exact input (one message per sf0.001
    events row, key = user_id), so any divergence between the live
    checkpoint-recovery path and the attested batch expression shows up
    as a value diff, not just a smoke failure.  Anchor: the reference's
    WAL-recovery discipline (AMQPBrokerStreamSuite.scala:54)."""
    from streaming_amqp_spark.plans.events import streaming_cms_topk_twin
    from streaming_amqp_spark.streaming.cms import (
        CMS_TOPK_K,
        cms_topk,
        start_continuous_cms,
    )
    from streaming_amqp_spark.tables import load_table

    uids = [
        str(r.user_id)
        for r in load_table(amqp, sf_dir, "events")
        .select("user_id")
        .collect()
    ]

    def msgs(ids, lo):
        return [
            {
                "message_id": f"m{lo + i}",
                "to_address": u,
                "body": "1",
                "ingest_ts": "2024-01-01T00:00:01",
            }
            for i, u in enumerate(ids)
        ]

    store = str(tmp_path / "cms_store")
    ckpt = str(tmp_path / "cms_ckpt")

    def run_wave(messages, fname):
        _write_spool(tmp_path, messages, fname=fname)
        env = (
            amqp.readStream.format("amqp")
            .option("transport", "spool")
            .option("spooldir", str(tmp_path / "spool"))
            .load()
        )
        q = start_continuous_cms(env, store, ckpt, key_col="to_address")
        q.processAllAvailable()
        q.stop()

    half = len(uids) // 2
    run_wave(msgs(uids[:half], 0), "000.jsonl")
    # kill-and-resume: a fresh query object recovers the complete-mode
    # aggregation state from the checkpoint before wave 2 lands
    run_wave(msgs(uids[half:], half), "001.jsonl")

    keys = amqp.createDataFrame(
        [(u,) for u in sorted(set(uids))], "to_address string"
    )
    served = [
        (r.k, r.est)
        for r in cms_topk(
            amqp.read.parquet(store), keys, "to_address", k=CMS_TOPK_K
        ).collect()
    ]
    twin = [
        (r.k, r.est)
        for r in streaming_cms_topk_twin(amqp, sf_dir).collect()
    ]
    assert served == twin
    assert len(served) == min(CMS_TOPK_K, len(set(uids)))
