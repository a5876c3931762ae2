"""Live-broker integration suite (VERDICT r3 ask #5) — the executable
mirror of the reference's embedded-broker tests
(AMQPBrokerStreamSuite.scala:77-259): send one message per AMQP body
shape (string, list, map, array, binary), receive through the engine,
assert the envelope round-trips.

Env-gated: runs only when python-qpid-proton is installed AND
``AMQP_BROKER_URL`` points at a reachable AMQP 1.0 broker
(``amqp://[user:pass@]host[:port]``, e.g. a local ActiveMQ Artemis or
Qpid broker — the stand-in for AMQPTestUtils.scala:66-91's embedded
ActiveMQ).  Skips cleanly everywhere else, so CI without an AMQP stack
is unaffected.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from urllib.parse import urlparse

import pytest

try:
    import proton  # noqa: F401

    _HAVE_PROTON = True
except ImportError:
    _HAVE_PROTON = False

_BROKER_URL = os.environ.get("AMQP_BROKER_URL")

pytestmark = pytest.mark.skipif(
    not (_HAVE_PROTON and _BROKER_URL),
    reason="live-broker suite needs python-qpid-proton and AMQP_BROKER_URL",
)


def _broker():
    u = urlparse(_BROKER_URL if "//" in _BROKER_URL else f"amqp://{_BROKER_URL}")
    return {
        "host": u.hostname or "localhost",
        "port": u.port or 5672,
        "username": u.username,
        "password": u.password,
    }


def _fresh_address() -> str:
    # unique per test run so a re-run never consumes stale messages
    return f"spark-live-{uuid.uuid4().hex[:12]}"


# The reference's five body-shape tests (AMQPBrokerStreamSuite.scala:
# 77-100 string, 102-141 list, 143-183 map, 185-224 array, 226-259 binary).
_BODIES = [
    ("string", "Spark Streaming & AMQP", "amqpValue"),
    ("list", ["a string", 1, 2], "amqpValue"),
    ("map", {"field_a": "a string", "field_b": 1}, "amqpValue"),
    ("array", [1, 2], "amqpValue"),
    ("binary", b"Spark Streaming & AMQP", "data"),
]


@pytest.fixture(scope="module")
def broker():
    return _broker()


@pytest.mark.parametrize("name,body,expect_type", _BODIES)
def test_transport_roundtrip_body_shapes(broker, name, body, expect_type):
    """Transport-level round-trip: QpidSender → broker → QpidTransport,
    asserting received == sent (the reference's oracle,
    AMQPBrokerStreamSuite.scala:97)."""
    from streaming_amqp_spark.sources.amqp import QpidSender, QpidTransport

    address = _fresh_address()
    sender = QpidSender(address=address, **broker)
    try:
        sender.send(
            {
                "message_id": f"live-{name}",
                "to_address": address,
                "application_properties": {"k": "v"},
                "body": body,
            }
        )
    finally:
        sender.close()

    t = QpidTransport(address=address, reliable=True, **broker)
    try:
        msgs: list[dict] = []
        deadline = time.monotonic() + 10  # ≡ eventually(timeout(10 s))
        while not msgs and time.monotonic() < deadline:
            msgs = t.fetch(10).to_pylist()  # envelope rows
        assert len(msgs) == 1, f"no message for body shape {name}"
        m = msgs[0]
        assert m["message_id"] == f"live-{name}"
        assert m["application_properties"] == [("k", "v")]
        assert m["body_type"] == expect_type
        if isinstance(body, bytes):
            assert m["body_binary"] == body and m["body"] is None
        elif isinstance(body, str):
            assert m["body"] == body
        else:  # a list or map body arrives as its JSON text
            assert m["body"] == json.dumps(body, separators=(",", ":"))
        t.settle(1)  # Accepted disposition (store-then-ack)
    finally:
        t.close()


def test_streaming_end_to_end(broker, spark):
    """Full-path mirror of the reference's canonical test: publish a
    message, run the Structured Streaming source against the broker,
    assert the envelope row (body JSON + type tag) in the sink."""
    from streaming_amqp_spark.sources.amqp import QpidSender, register_amqp_source

    register_amqp_source(spark)
    address = _fresh_address()
    sender = QpidSender(address=address, **broker)
    try:
        sender.send(
            {"message_id": "live-e2e", "to_address": address, "body": "21"}
        )
    finally:
        sender.close()

    reader = spark.readStream.format("amqp").option("address", address)
    for k, v in _broker().items():
        if v is not None:
            reader = reader.option(k, str(v))
    q = (
        reader.load()
        .writeStream.format("memory")
        .queryName("live_e2e")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.monotonic() + 15
        rows = []
        while not rows and time.monotonic() < deadline:
            q.processAllAvailable()
            rows = spark.sql("SELECT * FROM live_e2e").collect()
    finally:
        q.stop()
    assert len(rows) == 1
    [r] = rows
    assert r.message_id == "live-e2e"
    assert r.body_type == "amqpValue"
    assert json.loads(r.body) == 21 or r.body == "21"
