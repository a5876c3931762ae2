"""Unit coverage for QpidTransport's credit/settle/reconnect bookkeeping
via an injected stub ``proton`` module — python-qpid-proton is not in the
container, so these tests exercise the previously-uncovered branches
without the dependency.

Reference behavior being mirrored: credit replenish when consumption
crosses the threshold (AMQPFlowController.scala:131-141), store-then-ack
settlement (ReliableAMQPReceiver.scala:142-159), and restart-on-drop
(AMQPReceiver.scala:121-151)."""

from __future__ import annotations

import sys
import types
from dataclasses import dataclass, field
from typing import Any

import pytest


class FakeTimeout(Exception):
    pass


@dataclass
class FakeMessage:
    id: Any = None
    address: str | None = None
    subject: str | None = None
    reply_to: str | None = None
    correlation_id: Any = None
    properties: dict | None = None
    annotations: dict | None = None
    body: Any = None


@dataclass
class FakeDelivery:
    message: FakeMessage
    settled: bool = False

    def settle(self):
        self.settled = True


class FakeReceiver:
    """Stands in for BlockingReceiver: ``.receive`` drains a delivery
    queue (FakeTimeout when empty, or raises a wired-in connection error),
    ``.receiver.flow`` records credit grants like the proton link."""

    def __init__(self, deliveries, fail_at: int | None):
        self._deliveries = deliveries
        self._fail_at = fail_at
        self._consumed = 0
        self.flow_calls: list[int] = []
        self.receiver = self  # transport calls self._recv.receiver.flow(n)

    def flow(self, n):
        self.flow_calls.append(n)

    def receive(self, timeout=None):
        if self._fail_at is not None and self._consumed >= self._fail_at:
            raise ConnectionResetError("link dropped")
        if not self._deliveries:
            raise FakeTimeout()
        self._consumed += 1
        return self._deliveries.pop(0)


@dataclass
class FakeConnection:
    url: str
    allowed_mechs: str | None
    user: str | None
    password: str | None
    closed: bool = False
    receivers: list = field(default_factory=list)
    # test wiring, set on the class before constructing a transport
    pending: list = field(default_factory=list)
    fail_at: int | None = None

    instances: Any = None  # class attr, set below

    def __init__(self, url, allowed_mechs=None, user=None, password=None):
        self.url, self.allowed_mechs = url, allowed_mechs
        self.user, self.password = user, password
        self.closed = False
        self.receivers = []
        FakeConnection.instances.append(self)

    def create_receiver(self, address, credit=0):
        assert credit == 0, "prefetch must stay disabled (manual flow)"
        r = FakeReceiver(FakeConnection.pending, FakeConnection.fail_at)
        self.receivers.append(r)
        return r

    def close(self):
        self.closed = True


FakeConnection.instances = []
FakeConnection.pending = []
FakeConnection.fail_at = None


@pytest.fixture
def proton_stub(monkeypatch):
    """Inject stub proton/proton.utils modules and reset fake state."""
    proton_mod = types.ModuleType("proton")
    proton_mod.Timeout = FakeTimeout
    utils_mod = types.ModuleType("proton.utils")
    utils_mod.BlockingConnection = FakeConnection
    proton_mod.utils = utils_mod
    monkeypatch.setitem(sys.modules, "proton", proton_mod)
    monkeypatch.setitem(sys.modules, "proton.utils", utils_mod)
    FakeConnection.instances = []
    FakeConnection.pending = []
    FakeConnection.fail_at = None
    yield proton_mod


def _deliveries(n, start=0):
    return [
        FakeDelivery(
            FakeMessage(
                id=i,
                address="q1",
                subject=f"s{i}",
                correlation_id=i * 10,
                properties={"k": i, 7: "seven"},
                annotations={"x-opt": i},
                body=f"b{i}",
            )
        )
        for i in range(start, start + n)
    ]


def _transport(**kw):
    from streaming_amqp_spark.sources.amqp import QpidTransport

    defaults = dict(host="h", port=5672, address="q1")
    defaults.update(kw)
    return QpidTransport(**defaults)


def test_initial_credit_and_threshold_replenish(proton_stub):
    """credit_window granted at link-up; once consumption crosses the
    threshold the consumed count is re-flowed and the counter resets
    (≡ AMQPFlowController.scala:131-141)."""
    FakeConnection.pending = _deliveries(12)
    t = _transport(credit_window=10, credit_threshold=5, reliable=False)
    recv = FakeConnection.instances[0].receivers[0]
    assert recv.flow_calls == [10]
    out = t.fetch(12)
    assert len(out) == 12
    # replenished at message 5 and 10; 2 trailing messages stay counted
    assert recv.flow_calls == [10, 5, 5]
    assert t._since_replenish == 2


def test_unreliable_settles_on_receive(proton_stub):
    ds = _deliveries(3)
    FakeConnection.pending = list(ds)
    t = _transport(reliable=False)
    t.fetch(3)
    assert t._unsettled == []
    assert all(d.settled for d in ds)  # settled the moment they arrived


def test_reliable_retains_until_settle(proton_stub):
    """Store-then-ack: deliveries stay unsettled across fetch; settle(n)
    accepts exactly the first n (≡ ReliableAMQPReceiver.scala:142-159)."""
    ds = _deliveries(4)
    FakeConnection.pending = list(ds)
    t = _transport(reliable=True)
    out = t.fetch(4)
    assert len(out) == 4
    assert [d.settled for d in ds] == [False] * 4
    assert len(t._unsettled) == 4
    t.settle(2)
    assert [d.settled for d in ds] == [True, True, False, False]
    assert t._unsettled == ds[2:]
    t.settle(2)
    assert all(d.settled for d in ds)
    assert t._unsettled == []


def test_fetch_maps_envelope_fields_stringified(proton_stub):
    FakeConnection.pending = _deliveries(1)
    t = _transport(reliable=False)
    (m,) = t.fetch(1).to_pylist()
    assert m["message_id"] == "0" and m["correlation_id"] == "0"
    assert m["to_address"] == "q1" and m["subject"] == "s0"
    assert m["application_properties"] == [("k", "0"), ("7", "seven")]
    assert m["message_annotations"] == [("x-opt", "0")]
    assert m["body_type"] == "amqpValue" and m["body"] == "b0"


def test_fetch_none_ids_stay_none(proton_stub):
    FakeConnection.pending = [FakeDelivery(FakeMessage(body=1))]
    t = _transport(reliable=False)
    (m,) = t.fetch(1).to_pylist()
    assert m["message_id"] is None and m["correlation_id"] is None
    # an empty map is no map, as for a spool message
    assert m["application_properties"] is None and m["message_annotations"] is None


def test_timeout_ends_batch_without_error(proton_stub):
    FakeConnection.pending = _deliveries(2)
    t = _transport(reliable=False)
    assert len(t.fetch(10)) == 2  # queue drained: partial batch, no raise
    assert t.fetch(10).num_rows == 0


def test_midfetch_failure_raises_typed_disconnect(proton_stub):
    from streaming_amqp_spark.sources.amqp import TransportDisconnected

    FakeConnection.pending = _deliveries(5)
    FakeConnection.fail_at = 3
    t = _transport(reliable=True)
    with pytest.raises(TransportDisconnected):
        t.fetch(5)
    # the 3 deliveries fetched before the drop are retained unsettled
    assert len(t._unsettled) == 3


def test_reconnect_rebuilds_link_and_forgets_unsettled(proton_stub):
    """Restart-on-drop (≡ AMQPReceiver.scala:129-131): old connection
    closed, unsettled buffer cleared (broker redelivers on the new link —
    at-least-once), fresh link gets the full credit window."""
    FakeConnection.pending = _deliveries(3)
    t = _transport(credit_window=7, reliable=True)
    t.fetch(3)
    assert len(t._unsettled) == 3
    old = FakeConnection.instances[0]
    FakeConnection.pending = _deliveries(2, start=100)
    t.reconnect()
    assert old.closed
    assert t._unsettled == []
    assert t._since_replenish == 0
    new = FakeConnection.instances[1]
    assert new.receivers[0].flow_calls == [7]
    out = t.fetch(2)  # redelivered messages flow on the new link
    assert out.column("message_id").to_pylist() == ["100", "101"]


def test_sasl_plain_only_with_credentials(proton_stub):
    FakeConnection.pending = []
    _transport(username="u", password="p", reliable=False)
    _transport(reliable=False)
    with_creds, anonymous = FakeConnection.instances
    assert with_creds.allowed_mechs == "PLAIN" and with_creds.user == "u"
    assert anonymous.allowed_mechs is None and anonymous.user is None


def test_close_closes_connection(proton_stub):
    FakeConnection.pending = []
    t = _transport(reliable=False)
    t.close()
    assert FakeConnection.instances[0].closed


def _live_reader():
    from streaming_amqp_spark.sources.amqp import AMQPStreamReader

    return AMQPStreamReader({"transport": "qpid", "address": "q1"})


def test_restarted_live_reader_resumes_checkpointed_offset(proton_stub):
    """A fresh live-link reader handed a checkpointed start numbers its
    offsets from there, and commit settles just what it read."""
    from tests.conftest import envelope_rows

    ds = _deliveries(5)
    FakeConnection.pending = list(ds)
    r = _live_reader()
    rows, end = r.read({"seq": 100})
    assert len(envelope_rows(rows)) == 5 and end == {"seq": 105}
    assert not any(d.settled for d in ds)
    r.commit({"seq": 105})
    assert all(d.settled for d in ds)
    assert r.transport._unsettled == []


def test_replay_only_reader_opens_no_link(proton_stub):
    """Spark builds a reader just to replay an offset range after a
    restart; a live link has nothing to replay (the broker redelivers),
    so only the first read opens a connection."""
    r = _live_reader()
    assert list(r.readBetweenOffsets({"seq": 0}, {"seq": 3})) == []
    assert FakeConnection.instances == []
    FakeConnection.pending = _deliveries(2)
    r.read(r.initialOffset())
    r.read({"seq": 2})
    assert len(FakeConnection.instances) == 1


def test_stop_closes_live_link(proton_stub):
    """Spark's source runner calls ``stop()`` on the reader it built through
    ``_streamReader`` when a query ends; the simple reader's wrapper
    forwards it, which closes an opened link, and a reader that never
    opened one stops cleanly."""
    from pyspark.sql.datasource_internal import (
        _SimpleStreamReaderWrapper,
        _streamReader,
    )

    from streaming_amqp_spark.envelope import ENVELOPE_SCHEMA
    from streaming_amqp_spark.sources.amqp import AMQPDataSource

    def build():
        source = AMQPDataSource({"transport": "qpid", "address": "q1"})
        return _streamReader(source, ENVELOPE_SCHEMA)

    idle = build()
    assert isinstance(idle, _SimpleStreamReaderWrapper)
    idle.stop()
    assert FakeConnection.instances == []
    FakeConnection.pending = _deliveries(2)
    reader = build()
    reader.latestOffset()
    [conn] = FakeConnection.instances
    assert not conn.closed
    reader.stop()
    assert conn.closed
