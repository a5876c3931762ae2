"""AMQP 1.0 streaming source as a PySpark ``DataSource``.

The Spark-first re-expression of the reference's receiver stack
(AMQPReceiver.scala, ReliableAMQPReceiver.scala, AMQPFlowController.scala,
AMQPUtils.scala): one source + options replaces the DStream/receiver/flow-
controller/rate-controller class hierarchy, and Structured Streaming's
offset/commit protocol replaces the WAL + store-then-ack machinery.

Semantics mapping (reference → here):

- ``AMQPUtils.createStream(ssc, host, port, username, password, address,
  converter, storageLevel)`` (AMQPUtils.scala:45-57) →
  ``spark.readStream.format("amqp").options(host=…, port=…, username=…,
  password=…, address=…).load()``; converters are column expressions over
  the fixed envelope schema (streaming_amqp_spark.envelope).
- Credit-based flow control — prefetch off, 1000 credits, replenish at 50%
  (AMQPFlowController.scala:55-56,92-94,131-141) → ``maxMessagesPerBatch``
  admission cap + the transport's credit window (same defaults).
- Reliable receiver — buffer, store block, then send AMQP ``Accepted``
  (ReliableAMQPReceiver.scala:111-169) → messages stay unsettled until
  Spark calls ``commit(offset)``, which settles them.  The reader keeps no
  copy: within a run Spark's prefetch cache replays a batch; after a
  restart the spool re-reads the batch's stored byte range (exactly once)
  or the broker redelivers the unsettled tail (at least once).
- Unreliable receiver (AMQPReceiver.scala:159-162) → ``reliable=false``
  settles on receive (at-most-once on failure).
- Rate controllers (AMQPRateController.scala) → admission control: at most
  ``maxMessagesPerBatch`` per micro-batch; messages beyond the cap stay
  buffered/unsettled rather than AMQP-``Rejected`` (SURVEY §4.2: rejection
  has no Structured Streaming analogue; releasing is the lossless choice).

Scale note: this reader is a ``SimpleDataSourceStreamReader`` (driver-side
ingest, records shipped to executors as Arrow batches) — appropriate for a
protocol-push source at the reference's design rate (~10k msg/s,
AMQPFlowController.scala:271).  Scaling beyond one link = N source
instances on N addresses unioned together, which Spark plans as N
independent partitions.

The network transport (python-qpid-proton) is optional: the container has
no AMQP stack, so ``QpidTransport`` import-gates and tests exercise the
full source machinery through ``SpoolTransport`` (a directory of JSON-line
message files — the stand-in for the reference's in-process ProtonServer
harness, AMQPTestUtils.scala:213-266).
"""

from __future__ import annotations

import base64
import json
import os
import sys
import time
from datetime import datetime, timezone
from functools import lru_cache
from typing import Any, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.datasource_internal import _SimpleStreamReaderWrapper
from pyspark.sql.types import StructType

from streaming_amqp_spark.envelope import ENVELOPE_SCHEMA

CREDITS_DEFAULT = 1000  # AMQPFlowController.scala:55
CREDITS_THRESHOLD = 500  # AMQPFlowController.scala:56

# Receiver restart on connection close/disconnect (AMQPReceiver.scala:121-151
# calls Receiver.restart, which re-runs onStop/onStart).  Here the reader
# retries transport.fetch with exponential backoff after reconnect().
RECONNECT_MAX_ATTEMPTS = 5
RECONNECT_BASE_DELAY_S = 0.05


class TransportDisconnected(Exception):
    """Transport-level connection loss — the reader reconnects and retries
    (≡ the close/disconnect handlers at AMQPReceiver.scala:121-143)."""


def _json_encode_body(body: Any) -> tuple[str | None, str | None, bytes | None]:
    """Total mapping of an AMQP body to (body_type, body_json, body_binary).

    Mirrors AMQPJsonFunction.scala:111-148 (string/list/map/array → JSON,
    binary → bytes) but adds the default case the reference lacks
    (SURVEY §7.4.3: an Int body raises MatchError there) — any other value
    is JSON-stringified and tagged amqpValue.
    """
    if body is None:
        return None, None, None
    if isinstance(body, (bytes, bytearray)):
        return "data", None, bytes(body)
    if isinstance(body, str):
        return "amqpValue", body, None
    # list / dict / int / float / bool — JSON-encode (total, unlike the ref)
    return "amqpValue", json.dumps(body, separators=(",", ":")), None


@lru_cache(maxsize=4096)
def _parse_iso_ts(ts_str: str) -> datetime:
    """ISO-8601 → UTC datetime, a naive one read as local time (as the
    stock TimestampType converter's ``astimezone`` reads it), memoized:
    AMQP bursts commonly carry repeated (sender-batched,
    second-granularity) timestamps, and datetime objects are immutable so
    sharing one instance across rows is safe.  The memo takes the local
    zone as fixed for the life of the process."""
    return datetime.fromisoformat(ts_str).astimezone(timezone.utc)


def _msg_to_row(msg: dict) -> tuple:
    """One spool/transport message dict → one envelope-schema row.  Raises
    (ValueError, TypeError, AttributeError, OverflowError) on a message
    whose fields do not convert; the spool-line rule drops those lines."""
    body_type, body_json, body_bin = _json_encode_body(msg.get("body"))
    if msg.get("body_b64") is not None:  # spool-file binary bodies
        body_type, body_json = "data", None
        body_bin = base64.b64decode(msg["body_b64"])
    if ts_str := msg.get("ingest_ts"):
        ingest = _parse_iso_ts(ts_str)
    else:
        ingest = datetime.fromtimestamp(time.time(), tz=timezone.utc)
    props = msg.get("application_properties") or None
    annotations = msg.get("message_annotations") or None
    return (
        msg.get("message_id"),
        msg.get("to_address"),
        msg.get("subject"),
        msg.get("reply_to"),
        msg.get("correlation_id"),
        {str(k): str(v) for k, v in props.items()} if props else None,
        {str(k): str(v) for k, v in annotations.items()} if annotations else None,
        body_type,
        body_json,
        body_bin,
        ingest,
    )


# ---------------------------------------------------------------------------
# Arrow-batched row shipping.
#
# PySpark's Python-data-source worker accepts either tuples or
# ``pyarrow.RecordBatch``es from ``read()``.  The tuple path runs a
# per-row, per-column converter loop (plan_data_source_read.records_to_
# arrow_batches) that measures ~27 µs/row on the 11-column envelope, so
# every source hands the worker envelope RecordBatches.  A spool byte
# range becomes one through ``_parse_spool_batch``, in one of two ways:
#
# - columnar (``_columnar_spool_batch``): one ``pyarrow.json`` parse of the
#   range's ``{...}`` lines and ``pyarrow.compute`` for the derived
#   columns, about 1.5 µs/msg;
# - row by row (``_parse_spool_lines`` → ``_msg_to_row`` →
#   ``_rows_to_arrow_batch``), about 8–10 µs/msg: the spool-line rule itself,
#   and the path of any range the columnar parse cannot vouch for.
#
# ``_rows_to_arrow_batch`` builds the batch column-wise and is pinned
# bit-equal to the stock tuple path (same pa schema, same values, including
# bool/int→string coercion, map-entry and tz normalization); the columnar
# parse is pinned bit-equal to the row path.

_ARROW_ENV: tuple | None = None  # (pyarrow module, envelope arrow schema)


def _arrow_env():
    global _ARROW_ENV
    if _ARROW_ENV is None:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        _ARROW_ENV = (pa, to_arrow_schema(ENVELOPE_SCHEMA))
    return _ARROW_ENV


def _coerce_str(v):
    """The worker's StringType coercion (conversion.py convert_string):
    None/str pass through, bool lowers, anything else str()s."""
    if v is None or type(v) is str:
        return v
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def _rows_to_arrow_batch(rows: list[tuple]):
    """Envelope row tuples (``_msg_to_row`` output) → one RecordBatch (an
    empty list gives an empty batch).

    Replicates the stock tuple-path converters exactly: string coercion,
    map dict → entry list, naive timestamp interpreted via astimezone(UTC)
    (identical to conversion.py's TimestampType converter).

    ADVICE r15: converters dispatch on the arrow schema's FIELD TYPES
    (string / map / binary / timestamp), not hard-coded column
    positions, so an ENVELOPE_SCHEMA reorder or extension either keeps
    converting correctly or fails loudly here — never silently
    misaligns.  The pinned bit-equality corpus test
    (tests/test_scaleout.py) remains the behavioural guard."""
    pa, schema = _arrow_env()
    cols = list(zip(*rows)) or [()] * len(schema)
    arrays = []
    for i, t in enumerate(schema.types):
        if pa.types.is_string(t):
            arrays.append(pa.array([_coerce_str(v) for v in cols[i]], t))
        elif pa.types.is_map(t):
            arrays.append(
                pa.array(
                    [
                        list(v.items()) if v is not None else None
                        for v in cols[i]
                    ],
                    t,
                )
            )
        elif pa.types.is_binary(t):
            arrays.append(
                pa.array(
                    [None if v is None else bytes(v) for v in cols[i]], t
                )
            )
        elif pa.types.is_timestamp(t):
            arrays.append(
                pa.array(
                    [
                        None if v is None else v.astimezone(timezone.utc)
                        for v in cols[i]
                    ],
                    t,
                )
            )
        else:  # loud failure beats silent misconversion
            raise TypeError(
                f"unsupported envelope arrow type {t} for column "
                f"{schema.names[i]}"
            )
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def _parse_spool_line(line: str) -> tuple | None:
    """One decoded, non-blank spool line → envelope row, or None for a line
    the spool-line rule drops (stated on ``SpoolTransport``).  Only
    ``_parse_spool_lines`` calls it."""
    try:
        msg = json.loads(line)
        if not isinstance(msg, dict):
            return None
        row = _msg_to_row(msg)
        if "\\u" in line:  # only an escape makes a lone surrogate, which
            # Arrow cannot encode: UnicodeEncodeError here
            json.dumps(row, ensure_ascii=False, default=str).encode()
        return row
    except (ValueError, TypeError, AttributeError, OverflowError):
        return None


def _parse_spool_lines(data: bytes, max_n: int = sys.maxsize) -> tuple[list, int, int]:
    """Spool bytes → (envelope rows, malformed count, bytes used): the
    spool-line rule, line by line.  Bytes after the last newline are
    ignored; it stops after the newline-terminated line that brings the
    rows to ``max_n``, and ``bytes used`` ends just after that line."""
    rows: list[tuple] = []
    malformed = 0
    used = data.rfind(b"\n") + 1
    lines = data[:used].splitlines(keepends=True)
    for i, raw in enumerate(lines):
        line = raw.decode("utf-8", errors="replace")
        if line.strip():
            if (row := _parse_spool_line(line)) is not None:
                rows.append(row)
            else:
                malformed += 1
        if len(rows) >= max_n and raw[-1] == 10:  # ends in b"\n"
            return rows, malformed, sum(map(len, lines[: i + 1]))
    return rows, malformed, used


# The message fields a columnar parse reads, all strings; a line with any
# other key (maps, ``body_b64``) or a non-string value fails the parse.
_COLUMNAR_FIELDS = (
    "message_id", "to_address", "subject", "reply_to", "correlation_id",
    "body", "ingest_ts",
)
# the other keys ``AMQPWriter`` writes: a range holding one is declined
# before any parse rather than by a failed one
_ROW_PATH_KEYS = (b'"application_properties"', b'"message_annotations"', b'"body_b64"')
# ``ingest_ts`` forms on which ``datetime.fromisoformat`` and Arrow's cast
# agree; the years keep the UTC conversion inside both calendars' range.
_ISO_TS = r"^[12]\d{3}-\d\d-\d\d[T ]\d\d:\d\d:\d\d(\.\d{1,6})?(Z|[+-]\d\d:\d\d)?$"
_ISO_ZONE = r"(Z|[+-]\d\d:\d\d)$"
JSON_BLOCK_BYTES = 1 << 18  # pyarrow.json's unit of parallel parse


@lru_cache(maxsize=None)
def _json_parse_options():
    import pyarrow.json as pa_json

    pa, _ = _arrow_env()
    fields = pa.schema([(f, pa.string()) for f in _COLUMNAR_FIELDS])
    return pa_json.ParseOptions(
        explicit_schema=fields, unexpected_field_behavior="error")


def _local_zone_is_utc() -> bool:
    """Whether a naive timestamp read as local time is read as UTC."""
    return time.timezone == time.altzone == 0 and time.tzname == ("UTC", "UTC")


def _columnar_spool_batch(data: bytes, max_n: int):
    """``_parse_spool_batch`` in one ``pyarrow.json`` call, or None where it
    cannot vouch for the spool-line rule.

    A line is well-shaped if it starts with ``{`` and ends with ``}``.  The
    lines up to the ``max_n``-th well-shaped one are split in one numpy
    pass; the well-shaped ones are parsed together under an explicit
    schema of ``_COLUMNAR_FIELDS`` that refuses other fields, and the rest
    go through ``_parse_spool_lines``.  It declines before any parse a
    range that holds a CR up to the cut, invalid UTF-8 or a
    ``_ROW_PATH_KEYS`` key in the well-shaped lines, or another line
    that is ``{...}`` once stripped (the one kind that can hold a
    message).  After the parse, which then reads each line once, the
    result stands only if it gives one row per well-shaped line:
    ``pyarrow.json`` treats a newline as whitespace, but a well-shaped
    line can only continue into the next by a raw control character
    inside a string, which it refuses, so a line of two objects is the one
    way the rows could misalign, and it shows as an extra row.  A decline
    after the parse (a line that is not JSON, a duplicate key or
    non-string value, an unknown key, an ``ingest_ts`` Arrow does not
    read as ``fromisoformat`` does) leaves the line loop to parse the
    range again.  Naive stamps under a local zone other than UTC are
    read by the row path's ``_parse_iso_ts``, once per distinct value."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.json as pa_json

    pa, schema = _arrow_env()
    buf = np.frombuffer(data, np.uint8)
    ends = np.flatnonzero(buf == 10)  # each line's newline
    if not len(ends):
        return _rows_to_arrow_batch([]), 0, 0
    starts = np.concatenate(([0], ends[:-1] + 1))
    shaped = (ends > starts) & (buf[starts] == 0x7B) & (buf[ends - 1] == 0x7D)
    taken = np.cumsum(shaped)
    last = min(int(np.searchsorted(taken, max_n)), len(ends) - 1)
    used = int(ends[last]) + 1
    if data.find(b"\r", 0, used) >= 0:
        return None
    shaped, n = shaped[: last + 1], int(taken[last])
    # runs of lines alike in shape, as byte ranges
    cuts = np.flatnonzero(shaped[1:] != shaped[:-1]) + 1
    first = np.concatenate(([0], cuts))
    lo, hi = starts[first], ends[np.concatenate((cuts, [last + 1])) - 1] + 1
    view = memoryview(data)
    runs = {True: [], False: []}
    for a, b, s in zip(lo.tolist(), hi.tolist(), shaped[first].tolist()):
        runs[s].append(view[a:b])
    joined, other = b"".join(runs[True]), b"".join(runs[False])
    if any(k in joined for k in _ROW_PATH_KEYS) or any(
        (t := line.strip()).startswith(b"{") and t.endswith(b"}")
        for line in other.splitlines()
    ):
        return None
    try:
        joined.decode()  # pyarrow.json passes invalid UTF-8 through
    except UnicodeDecodeError:
        return None
    if not n:
        return _rows_to_arrow_batch([]), _parse_spool_lines(other)[1], used
    # parse blocks run on Arrow's CPU pool; a block holds whole lines
    longest = int((ends - starts)[: last + 1][shaped].max()) + 1
    try:
        table = pa_json.read_json(
            pa.BufferReader(joined),
            read_options=pa_json.ReadOptions(
                use_threads=True, block_size=max(JSON_BLOCK_BYTES, longest)),
            parse_options=_json_parse_options(),
        )
    except pa.ArrowInvalid:
        return None
    if table.num_rows != n:
        return None
    cols = {f: table.column(f).combine_chunks() for f in _COLUMNAR_FIELDS}
    # an empty ingest_ts is stamped with the read time, like an absent one
    ts_str = pc.if_else(pc.equal(cols["ingest_ts"], ""), None, cols["ingest_ts"])
    if not pc.all(pc.match_substring_regex(ts_str, _ISO_TS), min_count=0).as_py():
        return None
    zoned = pc.match_substring_regex(ts_str, _ISO_ZONE)
    ts_type = schema.field("ingest_ts").type
    try:  # naive stamps as UTC; a day, hour or offset out of range fails
        ts = pc.if_else(
            zoned, ts_str, pc.binary_join_element_wise(ts_str, "Z", "")
        ).cast(ts_type)
        if not (_local_zone_is_utc() or pc.all(zoned, min_count=0).as_py()):
            naive = pc.unique(pc.filter(ts_str, pc.invert(zoned)))
            local = pa.array([_parse_iso_ts(s) for s in naive.to_pylist()], ts_type)
            ts = pc.if_else(zoned, ts, pc.take(local, pc.index_in(ts_str, naive)))
    except (ValueError, OverflowError):
        return None
    malformed = _parse_spool_lines(other)[1]  # lines that hold no message
    if ts.null_count:
        now = datetime.fromtimestamp(time.time(), tz=timezone.utc)
        ts = ts.fill_null(pa.scalar(now, ts_type))
    cols["ingest_ts"] = ts
    cols["body_type"] = pc.if_else(
        pc.is_valid(cols["body"]), pa.scalar("amqpValue"), pa.scalar(None, pa.string()))
    arrays = [
        cols[f] if f in cols else pa.nulls(n, t)
        for f, t in zip(schema.names, schema.types)
    ]
    return pa.RecordBatch.from_arrays(arrays, schema=schema), malformed, used


def _parse_spool_batch(data: bytes, max_n: int = sys.maxsize):
    """Spool bytes → (envelope RecordBatch, malformed count, bytes used),
    the contract of ``_parse_spool_lines``: the parse of every spool
    reader.  The columnar parse where it can vouch for the result, else
    the line loop itself."""
    got = _columnar_spool_batch(data, max_n)
    if got is None:
        rows, malformed, used = _parse_spool_lines(data, max_n)
        got = _rows_to_arrow_batch(rows), malformed, used
    return got


SPOOL_READ_BYTES = 1 << 20  # read block of every spool reader; bounds its memory


def _spool_blocks(
    path: str, pos: int, hi: int, max_n: int = sys.maxsize
) -> Iterator[tuple[Any, int, int]]:
    """Parse ``path`` from byte ``pos`` to ``hi`` in ``SPOOL_READ_BYTES``
    blocks, each block's unterminated tail carried into the next: yields
    ``(RecordBatch, malformed, position after its rows)`` per block, and
    stops after the line that brings the rows to ``max_n``."""
    with open(path, "rb") as f:
        f.seek(pos)
        carry = b""
        while max_n > 0 and (
            block := f.read(min(SPOOL_READ_BYTES, hi - pos - len(carry)))
        ):
            data = carry + block
            batch, malformed, used = _parse_spool_batch(data, max_n)
            max_n -= batch.num_rows
            pos += used
            carry = data[used:]
            yield batch, malformed, pos


def _spool_files(spool_dir: str) -> list[str]:
    """The ``.jsonl`` files of a spool directory, in consumption order."""
    return sorted(
        os.path.join(spool_dir, f)
        for f in os.listdir(spool_dir)
        if f.endswith(".jsonl")
    )


def _retry_on_disconnect(op, reconnect):
    """Run ``op`` with reconnect-on-TransportDisconnected + exponential
    backoff (≡ Receiver.restart on close/disconnect,
    AMQPReceiver.scala:121-151) — one policy shared by the reader's fetch
    and the writer's send so a backoff fix can't miss one of them."""
    delay = RECONNECT_BASE_DELAY_S
    for attempt in range(RECONNECT_MAX_ATTEMPTS + 1):
        try:
            return op()
        except TransportDisconnected:
            if attempt == RECONNECT_MAX_ATTEMPTS:
                raise
            time.sleep(delay)
            delay *= 2
            reconnect()
    raise AssertionError("unreachable")


class Transport:
    """Minimal message-delivery interface the reader drives.

    ``fetch(max_n)`` returns up to max_n new messages as one envelope
    ``pyarrow.Table`` (its chunks are the batches the reader hands Spark);
    ``settle(n)`` acknowledges the oldest n outstanding messages (≡ AMQP
    Accepted disposition on commit).
    """

    def fetch(self, max_n: int):
        raise NotImplementedError

    def settle(self, n: int) -> None:
        pass

    def reconnect(self) -> None:
        """Re-establish the underlying connection after a
        ``TransportDisconnected`` from ``fetch``.  Stateless transports
        (spool) need nothing; ``QpidTransport`` rebuilds the link."""

    def close(self) -> None:
        pass


class SpoolTransport(Transport):
    """Replayable test/file transport: JSON-lines message files in a
    directory, consumed in (filename, line) order.  Stands in for a broker
    in tests exactly like the reference's embedded ActiveMQ / in-process
    ProtonServer (AMQPTestUtils.scala:66-91,213-266).

    The spool-line rule, which every spool reader (``fetch``, the simple
    reader's ``readBetweenOffsets``, ``AMQPScaleOutStreamReader``,
    ``AMQPBatchReader``) applies through ``_parse_spool_batch``: a message
    is one newline-terminated line (the terminated prefix splits as
    ``bytes.splitlines`` does), decoded as UTF-8 with invalid bytes
    replaced, parsed as a JSON object whose fields convert to an envelope
    row (``_msg_to_row``).  A blank line is skipped; any other line is
    dropped (``fetch`` counts it in ``malformed``): malformed JSON, a
    non-object, an ``ingest_ts`` that is not an ISO-8601 string, a
    non-object ``application_properties`` or ``message_annotations``, a
    ``body_b64`` that is not base64, a lone surrogate escape in a string.
    Bytes after a file's last newline stay unread until their newline
    arrives.

    The rule is stated once, as the line loop ``_parse_spool_lines``.  A
    range takes the columnar path (``_columnar_spool_batch``: the
    well-shaped ``{...}`` lines in one ``pyarrow.json`` parse) only where
    that path can vouch for the loop's result; any other range goes
    through the loop itself.  ``fetch`` returns the range's batches as one
    ``pyarrow.Table``, without a copy.

    ``cursor`` maps each file to the byte just past what ``fetch`` took
    (a file at byte 0 is absent); ``fetch(max_n)`` reads on from it, each
    line parsed once, and stops after the line that brings it to ``max_n``
    messages.  The cursor lands only just after a newline (a line split at
    a bare CR is taken whole: the cap is exceeded only by its extra
    messages), so ``_spool_range_batches`` between two cursors returns
    exactly what ``fetch`` returned.  Files are appended in non-decreasing
    name order (a FIFO link's contract); one sorting earlier is read late.
    """

    def __init__(self, spool_dir: str):
        self.spool_dir = spool_dir
        # Converter-crash semantics (SURVEY §7.4.2): the reference's
        # unreliable path throws on an unconvertible message
        # (AMQPReceiver.scala:161) while the reliable path silently drops
        # (ReliableAMQPReceiver.scala:127).  The resolved semantic here:
        # drop AND count — the stream never dies, the loss is observable.
        self.malformed = 0
        self.cursor: dict[str, int] = {}

    def fetch(self, max_n: int):
        batches, n = [], 0
        sizes = {p: os.path.getsize(p) for p in _spool_files(self.spool_dir)}
        for path, pos, size in _ranges_between(self.cursor, sizes):
            if n >= max_n:
                break
            for batch, malformed, pos in _spool_blocks(path, pos, size, max_n - n):
                if batch.num_rows:
                    batches.append(batch)
                    n += batch.num_rows
                self.malformed += malformed
            if pos:
                self.cursor[path] = pos
        pa, schema = _arrow_env()
        return pa.Table.from_batches(batches, schema)


class QpidTransport(Transport):
    """Real AMQP 1.0 transport over python-qpid-proton (import-gated: the
    lib is absent in this container, so constructing this raises with a
    clear message; the class documents the intended wiring).

    Flow control mirrors AMQPFlowController.scala: prefetch disabled,
    ``credit_window`` credits granted, replenished when consumption crosses
    ``credit_threshold`` (:92-94,:131-141).  Deliveries stay unsettled
    until ``settle`` (reliable mode) ≡ ReliableAMQPReceiver.scala:142-159.
    """

    def __init__(
        self,
        host: str,
        port: int,
        address: str,
        username: str | None = None,
        password: str | None = None,
        credit_window: int = CREDITS_DEFAULT,
        credit_threshold: int = CREDITS_THRESHOLD,
        reliable: bool = True,
    ):
        try:
            import proton  # noqa: F401
            import proton.utils  # noqa: F401
        except ImportError as e:  # pragma: no cover - no AMQP stack in image
            raise ImportError(
                "QpidTransport needs python-qpid-proton; use "
                "transport=spool for offline testing"
            ) from e
        self._host, self._port, self._address = host, port, address
        self._username, self._password = username, password
        self._credit_window = credit_window
        self._credit_threshold = credit_threshold
        self._reliable = reliable
        self._since_replenish = 0
        self._unsettled: list[Any] = []
        self._connect()

    def _connect(self) -> None:
        from proton.utils import BlockingConnection

        url = f"amqp://{self._host}:{self._port}"
        self._conn = BlockingConnection(
            url, allowed_mechs="PLAIN" if self._username else None,
            user=self._username, password=self._password,
        )
        # prefetch=0 ≡ setPrefetch(0) + manual flow (AMQPFlowController.scala:92-94)
        self._recv = self._conn.create_receiver(self._address, credit=0)
        self._recv.receiver.flow(self._credit_window)
        self._since_replenish = 0

    def reconnect(self) -> None:
        """Rebuild connection + link after a drop (≡ Receiver.restart at
        AMQPReceiver.scala:129-131).  Unsettled deliveries of the dead
        connection are forgotten — the broker redelivers them on the new
        link (at-least-once, same as the reference's WAL replay)."""
        try:
            self._conn.close()
        except Exception:
            pass
        self._unsettled = []
        self._connect()

    def fetch(self, max_n: int):
        from proton import Timeout

        out: list[dict] = []
        while len(out) < max_n:
            try:
                delivery = self._recv.receive(timeout=0.1)
            except Timeout:
                break  # queue drained — a normal end of batch
            except Exception as e:
                # connection/link failure mid-fetch: surface as a typed
                # disconnect so the reader can reconnect-and-retry
                # (already-fetched messages stay buffered in the reader)
                raise TransportDisconnected(str(e)) from e
            msg = delivery.message if hasattr(delivery, "message") else delivery
            out.append(
                {
                    "message_id": str(msg.id) if msg.id is not None else None,
                    "to_address": msg.address,
                    "subject": msg.subject,
                    "reply_to": msg.reply_to,
                    "correlation_id": (
                        str(msg.correlation_id)
                        if msg.correlation_id is not None
                        else None
                    ),
                    "application_properties": {
                        str(k): str(v) for k, v in (msg.properties or {}).items()
                    },
                    # Symbol→Any map, both sides stringified
                    # (AMQPJsonFunction.scala:91-100)
                    "message_annotations": {
                        str(k): str(v)
                        for k, v in (msg.annotations or {}).items()
                    },
                    "body": msg.body,
                }
            )
            if self._reliable:
                self._unsettled.append(delivery)
            else:
                delivery.settle()
            self._since_replenish += 1
            # replenish ≡ issueCredits (AMQPFlowController.scala:131-141)
            if self._since_replenish >= self._credit_threshold:
                self._recv.receiver.flow(self._since_replenish)
                self._since_replenish = 0
        pa, _ = _arrow_env()
        return pa.Table.from_batches([_rows_to_arrow_batch([_msg_to_row(m) for m in out])])

    def settle(self, n: int) -> None:
        for d in self._unsettled[:n]:
            d.settle()  # Accepted ≡ ReliableAMQPReceiver.scala:152-156
        del self._unsettled[:n]

    def close(self) -> None:
        self._conn.close()


class AMQPStreamReader(SimpleDataSourceStreamReader):
    """Offset/commit protocol over a Transport.

    Offset = {"seq": total messages admitted}, plus a spool's byte cursor
    ``"files"`` (``SpoolTransport.cursor``).  ``read`` keeps no copy of a
    batch (Spark's prefetch cache does, until commit); ``commit`` settles
    the messages below its offset (≡ store-then-ack,
    ReliableAMQPReceiver.scala:111-159).  After a restart a fresh reader's
    ``readBetweenOffsets`` re-reads the stored block (≡ WAL block replay):
    the spool the byte ranges between the two cursors, exactly once, a live
    link nothing — the broker redelivers what was never settled.
    """

    def __init__(self, options: dict):
        self.options = options
        self.max_per_batch = int(
            options.get("maxmessagesperbatch", CREDITS_DEFAULT)
        )
        # Rate limiting ≡ the latent AMQPAsyncFlowController /
        # AMQPRateController family (AMQPFlowController.scala:152-370,
        # AMQPRateController.scala:38-341): admit at most
        # maxRatePerSecond × elapsed-since-last-batch messages per batch.
        # Excess stays buffered/unsettled (released, never AMQP-Rejected —
        # SURVEY §4.2).
        self.max_rate = float(options.get("maxratepersecond", 0)) or None
        self._last_read_t: float | None = None
        # Adaptive admission (full A10/A11 parity): Structured Streaming
        # has no push-side PID, so the reader closes the loop itself.  The
        # feedback signal is the batch-processing duration measured from
        # read-end to commit(end) — see commit() — so the cap shrinks when
        # batches genuinely overrun targetBatchSeconds and regrows
        # geometrically toward maxMessagesPerBatch when they run fast;
        # trigger intervals and idle gaps never enter the signal.
        self.target_batch_s = (
            float(options.get("targetbatchseconds", 0)) or None
        )
        self._adaptive_cap = self.max_per_batch
        # end-seq -> (read-finished time, admitted count): commit() turns
        # these into observed batch-processing durations
        self._batch_done: dict[int, tuple[float, int]] = {}
        self.reliable = options.get("reliable", "true").lower() == "true"
        # A spool replays any offset range; a live link replays nothing and
        # opens on the first read, so a replay-only reader never connects.
        self._replayable = options.get("transport", "qpid") == "spool"
        self.transport: Transport | None = (
            SpoolTransport(options["spooldir"]) if self._replayable else None
        )
        self._seq = 0
        self._settled = 0  # messages below this seq are settled

    def initialOffset(self) -> dict:
        return {"seq": 0, "files": {}} if self._replayable else {"seq": 0}

    def read(self, start: dict) -> tuple[Iterator, dict]:
        # Restart resync (≡ StreamingContext.getOrCreate,
        # AMQPTemperature.scala:61): a fresh reader is handed the checkpointed
        # offset, below which all is settled; a spool takes up its cursor.
        if start["seq"] > self._seq:
            if self._replayable:
                self.transport.cursor = dict(_spool_cursor(start))
            self._seq = self._settled = start["seq"]
        if self.transport is None:
            o = self.options
            self.transport = QpidTransport(
                host=o.get("host", "localhost"),
                port=int(o.get("port", 5672)),
                address=o.get("address", "spark"),
                username=o.get("username"),
                password=o.get("password"),
                credit_window=self.max_per_batch,
                reliable=self.reliable,
            )
        now = time.monotonic()
        elapsed = (
            now - self._last_read_t if self._last_read_t is not None else 1.0
        )
        self._last_read_t = now
        admit = self.max_per_batch
        if self.max_rate:
            admit = min(admit, max(1, int(self.max_rate * elapsed)))
        if self.target_batch_s:
            admit = min(admit, self._adaptive_cap)
        # at least once: a broker redelivers what was in flight at a drop
        table = _retry_on_disconnect(
            lambda: self.transport.fetch(admit), self.transport.reconnect
        )
        if not table.num_rows:  # an unchanged offset plans no micro-batch
            return iter(()), start
        self._seq += table.num_rows
        if not self.reliable:  # the transport settled them on receive
            self._settled = self._seq
        if self.target_batch_s:
            # commit(end) closes this sample into a processing duration;
            # bound the map in case an epoch is never committed (restart)
            self._batch_done[self._seq] = (time.monotonic(), table.num_rows)
            while len(self._batch_done) > 64:
                self._batch_done.pop(next(iter(self._batch_done)))
        # the fetched batches: Spark's prefetch cache holds them until commit
        end = {"seq": self._seq}
        if self._replayable:
            end["files"] = dict(self.transport.cursor)
        return iter(table.to_batches()), end

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator:
        if not self._replayable:
            return iter(())  # the broker redelivers the unsettled tail
        return _spool_range_batches(
            _ranges_between(_spool_cursor(start), _spool_cursor(end))
        )

    def commit(self, end: dict) -> None:
        upto = end["seq"]
        n_settle = min(upto, self._seq) - self._settled
        if n_settle > 0:
            self.transport.settle(n_settle)
            self._settled += n_settle
        # Adaptive admission (full A10/A11 parity: the latent controllers
        # track Spark's PID-driven blockGenerator.getCurrentLimit,
        # AMQPRateController.scala:56,214-215).  commit(end) fires after
        # the batch finished processing, so now − read-end is the TRUE
        # batch-processing duration — unlike inter-read elapsed time, it
        # cannot confuse a long trigger interval or an idle source with a
        # slow pipeline (which would ratchet the cap down permanently).
        sample = self._batch_done.pop(upto, None)
        if self.target_batch_s and sample is not None:
            t_read_end, n_admitted = sample
            proc = time.monotonic() - t_read_end
            if proc > self.target_batch_s:
                # overran: scale cap to what this batch's rate would have
                # processed within the target
                self._adaptive_cap = max(
                    1, int(n_admitted * self.target_batch_s / proc)
                )
            elif proc < 0.5 * self.target_batch_s:
                self._adaptive_cap = min(
                    self.max_per_batch, max(self._adaptive_cap * 2, 1)
                )

    def stop(self) -> None:
        if self.transport is not None:
            self.transport.close()


class _StoppableSimpleReaderWrapper(_SimpleStreamReaderWrapper):
    """PySpark's prefetch-and-cache wrapper, plus the ``stop()`` it does
    not forward, so a stopped query closes its live link."""

    def stop(self) -> None:
        self.simple_reader.stop()


def _spool_cursor(offset: dict) -> dict[str, int]:
    """The ``{path: byte}`` cursor of a simple spool reader's offset."""
    if "files" not in offset:  # a checkpoint from before the cursor format
        raise ValueError(
            f"spool offset {json.dumps(offset)} predates the offset format "
            '{"seq": n, "files": {path: byte}}; restart from a new checkpoint'
        )
    return offset["files"]


def _ranges_between(lo: dict, hi: dict) -> list[tuple[str, int, int]]:
    """The ``(path, lo, hi)`` ranges between two ``{path: byte}`` cursors,
    in file order; a file absent from ``lo`` starts at byte 0."""
    return [(p, lo.get(p, 0), b) for p, b in sorted(hi.items()) if b > lo.get(p, 0)]


def _complete_bytes(path: str, upto: int | None = None, chunk: int = 1 << 16) -> int:
    """Byte length of the newline-terminated prefix of ``path`` (at most
    ``upto`` bytes) — the metadata-only probe the scale-out reader's
    driver side uses.  Reads at most a few tail chunks (lines are small),
    never the file body."""
    size = os.path.getsize(path)
    if upto is not None:
        size = min(size, upto)
    if size <= 0:
        return 0
    with open(path, "rb") as f:
        lo = size
        while lo > 0:
            start = max(0, lo - chunk)
            f.seek(start)
            data = f.read(lo - start)
            nl = data.rfind(b"\n")
            if nl >= 0:
                return start + nl + 1
            lo = start
    return 0


def _next_newline(path: str, off: int, chunk: int = 1 << 16) -> int | None:
    """Byte position just past the first newline at/after ``off`` — the
    make-progress probe for a single line larger than the batch budget.
    Returns None if no complete line exists yet."""
    size = os.path.getsize(path)
    with open(path, "rb") as f:
        pos = off
        while pos < size:
            f.seek(pos)
            data = f.read(min(chunk, size - pos))
            nl = data.find(b"\n")
            if nl >= 0:
                return pos + nl + 1
            pos += len(data)
    return None


class _SpoolRangePartition(InputPartition):
    """Newline-aligned spool byte ranges read by one task:
    ``ranges`` = [(file path, start byte, end byte)].  The scale-out reader
    makes one per directory per micro-batch, the batch reader one per
    file; an empty list is the no-data partition Spark requires."""

    def __init__(self, ranges: list[tuple[str, int, int]]):
        self.ranges = ranges


def _spool_range_batches(ranges: list[tuple[str, int, int]]) -> Iterator:
    """Newline-aligned ``(path, lo, hi)`` ranges, read by ``_spool_blocks``
    → one envelope RecordBatch per non-empty read block, columnar all the
    way to the JVM."""
    for path, lo, hi in ranges:
        for batch, _, _ in _spool_blocks(path, lo, hi):
            if batch.num_rows:
                yield batch


class AMQPScaleOutStreamReader(DataSourceStreamReader):
    """Partitioned streaming reader: one executor-side partition per spool
    directory per micro-batch — the Structured Streaming re-expression of
    the reference's receiver-per-stream parallelism (a receiver object is
    shipped to an executor per stream, AMQPInputDStream.scala:40-59;
    scale-out there = N streams unioned).

    Division of labour at scale: the driver's ``latestOffset`` does
    metadata-only work (file sizes + a tail probe for the last newline,
    O(#files) regardless of data volume); executors parse their assigned
    newline-aligned byte ranges in parallel, by the spool-line rule stated
    on ``SpoolTransport``.  Offsets are plain
    {dir: {file: completed-byte}} maps, so any (start, end] range is
    replayable from the files themselves — exactly-once for a durable
    spool, with none of the driver-funnel ceiling of the simple reader.

    Selected via option ``spooldirs`` (comma-separated directories).  A
    live multi-link deployment uses :func:`api.create_union_stream` (one
    driver-side link per address) — an AMQP broker gives no replayable
    byte ranges, so executor-side live links cannot honour
    ``partitions(start, end)`` replay and are intentionally not offered.
    """

    def __init__(self, options: dict):
        dirs = options.get("spooldirs") or options.get("spooldir", "")
        self.spool_dirs = [d.strip() for d in dirs.split(",") if d.strip()]
        if not self.spool_dirs:
            raise ValueError("spooldirs option is required for scale-out mode")
        # Admission control (≡ maxMessagesPerBatch on the simple reader,
        # AMQPFlowController.scala:55): cap the bytes each DIRECTORY
        # contributes per micro-batch so a deep backlog drains as bounded
        # batches instead of one giant one.  Byte- not message-denominated
        # because the driver only ever sees sizes, never message bodies.
        self.max_bytes = int(options.get("maxbytesperbatch", 0)) or None
        self._last: dict | None = None

    def initialOffset(self) -> dict:
        return {d: {} for d in self.spool_dirs}

    def latestOffset(self) -> dict:
        # Restart safety: after a checkpoint recovery the engine may call
        # latestOffset before any partitions(start, end), so the cap's
        # byte-counting memory (_last) is empty and a capped count from
        # byte 0 would return offsets BELOW the checkpointed start —
        # Spark would then plan (prev_end, our_smaller_end] ranges that
        # re-deliver consumed data.  First call is therefore uncapped
        # (offsets are monotone by construction); the cap engages from
        # the second batch on, once _last holds a real high-water mark.
        first_call = self._last is None
        prev = self._last or {}
        out: dict = {}
        for d in self.spool_dirs:
            prev_d = prev.get(d, {})
            cur: dict = {}
            budget = self.max_bytes
            for p in _spool_files(d):
                lo = prev_d.get(p, 0)
                if budget is None or first_call:
                    hi = _complete_bytes(p)
                elif budget > 0:
                    hi = _complete_bytes(p, upto=lo + budget)
                    if hi <= lo and _complete_bytes(p) > lo:
                        # a single line larger than the whole budget:
                        # admit that one line anyway — progress beats the
                        # cap, else this file stalls forever while later
                        # files overtake it (FIFO violation + data loss)
                        hi = _next_newline(p, lo) or lo
                    budget -= max(0, hi - lo)
                else:
                    hi = lo
                cur[p] = max(hi, lo)
            out[d] = cur
        self._last = out
        return out

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        # Secondary restart resync (belt to latestOffset's first-call
        # braces): floor the cap's memory at every observed start so a
        # capped latestOffset can never re-issue consumed ranges.
        if self._last is None:
            self._last = {}
        for d, files in start.items():
            mine = self._last.setdefault(d, {})
            for p, off in files.items():
                if mine.get(p, 0) < off:
                    mine[p] = off
        parts = [
            _SpoolRangePartition(ranges)
            for d in self.spool_dirs
            if (ranges := _ranges_between(start.get(d, {}), end.get(d, {})))
        ]
        return parts or [_SpoolRangePartition([])]

    def read(self, partition: _SpoolRangePartition) -> Iterator:
        return _spool_range_batches(partition.ranges)

    def commit(self, end: dict) -> None:
        pass


class _AddressPartition(InputPartition):
    def __init__(self, address: str):
        self.address = address


class AMQPBatchReader(DataSourceReader):
    """``spark.read.format("amqp")`` — drain currently-available messages as
    a batch DataFrame (the reference has no batch mode; this is the
    DataFrame-native upgrade for replaying a captured spool or bounded
    queue).

    Scale design: the scan is partitioned — one executor-side partition per
    spool file (``transport=spool``) or per AMQP address
    (comma-separated ``address`` list for a live link), so a 100 TB spool
    directory reads wide exactly like Spark's file sources; nothing funnels
    through the driver.  A spool file's partition is its newline-terminated
    prefix as of ``partitions()``, read by the spool-line rule stated on
    ``SpoolTransport``.
    """

    def __init__(self, options: dict):
        self.options = options
        self.kind = options.get("transport", "qpid")

    def partitions(self) -> list[InputPartition]:
        if self.kind == "spool":
            files = _spool_files(self.options["spooldir"])
            return [
                _SpoolRangePartition([(p, 0, _complete_bytes(p))]) for p in files
            ] or [_SpoolRangePartition([])]
        addresses = self.options.get("address", "spark").split(",")
        return [_AddressPartition(a.strip()) for a in addresses]

    def read(self, partition: InputPartition) -> Iterator:
        if isinstance(partition, _SpoolRangePartition):
            yield from _spool_range_batches(partition.ranges)
            return
        # live link: per-partition connection, drain until empty, settle all
        transport = QpidTransport(  # pragma: no cover - no AMQP stack in image
            host=self.options.get("host", "localhost"),
            port=int(self.options.get("port", 5672)),
            address=partition.address,
            username=self.options.get("username"),
            password=self.options.get("password"),
            reliable=True,
        )
        try:  # pragma: no cover
            while table := transport.fetch(CREDITS_DEFAULT):
                yield from table.to_batches()
                transport.settle(table.num_rows)
        finally:  # pragma: no cover
            transport.close()


class QpidSender:
    """Live AMQP 1.0 sender over python-qpid-proton (import-gated like
    ``QpidTransport``) — the publish half ``AMQPWriter`` opens per task in
    live mode.

    ``BlockingSender.send`` waits for the broker to settle each delivery
    (at-least-once: a retried task may re-send messages the broker already
    accepted — the mirror of the source's redelivery contract).  The
    reference has no sink at all (ingestion-only connector,
    AMQPInputDStream.scala), so this is engine completeness, not parity.
    """

    def __init__(
        self,
        host: str,
        port: int,
        address: str,
        username: str | None = None,
        password: str | None = None,
    ):
        try:
            import proton  # noqa: F401
            import proton.utils  # noqa: F401
        except ImportError as e:  # pragma: no cover - no AMQP stack in image
            raise ImportError(
                "live AMQP publish needs python-qpid-proton; use "
                "transport=spool for offline testing"
            ) from e
        self._host, self._port, self._address = host, port, address
        self._username, self._password = username, password
        self._connect()

    def _connect(self) -> None:  # pragma: no cover
        from proton.utils import BlockingConnection

        url = f"amqp://{self._host}:{self._port}"
        self._conn = BlockingConnection(
            url, allowed_mechs="PLAIN" if self._username else None,
            user=self._username, password=self._password,
        )
        self._snd = self._conn.create_sender(self._address)

    def reconnect(self) -> None:  # pragma: no cover
        try:
            self._conn.close()
        except Exception:
            pass
        self._connect()

    def send(self, msg: dict) -> None:  # pragma: no cover
        from proton import Message

        m = Message(
            id=msg.get("message_id"),
            address=msg.get("to_address") or self._address,
            subject=msg.get("subject"),
            reply_to=msg.get("reply_to"),
            correlation_id=msg.get("correlation_id"),
            properties=msg.get("application_properties"),
            annotations=msg.get("message_annotations"),
            body=(
                base64.b64decode(msg["body_b64"])
                if "body_b64" in msg
                else msg.get("body")
            ),
        )
        try:
            self._snd.send(m)
        except Exception as e:
            raise TransportDisconnected(str(e)) from e

    def close(self) -> None:  # pragma: no cover
        try:
            self._conn.close()
        except Exception:
            pass


def _row_to_msg(row) -> dict:
    """One envelope(-ish) row → one spool/transport message dict (the
    inverse of ``_msg_to_row``; missing columns become absent keys)."""
    d = row.asDict() if hasattr(row, "asDict") else dict(row)
    msg: dict = {}
    for k in (
        "message_id",
        "to_address",
        "subject",
        "reply_to",
        "correlation_id",
        "application_properties",
        "message_annotations",
    ):
        if d.get(k) is not None:
            v = d[k]
            msg[k] = dict(v) if hasattr(v, "items") else v
    if d.get("body_type") == "data" and d.get("body_binary") is not None:
        msg["body_b64"] = base64.b64encode(bytes(d["body_binary"])).decode()
    elif d.get("body") is not None:
        msg["body"] = d["body"]
    if d.get("ingest_ts") is not None:
        msg["ingest_ts"] = d["ingest_ts"].isoformat()
    return msg


class _SpoolCommit(WriterCommitMessage):
    """Commit message: the task's temp file + its partition id."""

    def __init__(self, tmp_path: str | None, partition_id: int, n_rows: int):
        self.tmp_path = tmp_path
        self.partition_id = partition_id
        self.n_rows = n_rows


class AMQPWriter(DataSourceWriter, DataSourceStreamWriter):
    """``df.write[Stream].format("amqp")`` — publish envelope rows.

    Offline (``transport=spool``): two-phase commit onto the spool
    directory in the exact format ``SpoolTransport`` reads (write→read
    round-trips).  Tasks write temp files and report them in their commit
    message; the driver's ``commit`` renames them to their final
    ``<epoch>-<partition>.jsonl`` names (atomic per file), ``abort``
    deletes them.  A replayed streaming epoch re-renames onto the same
    names instead of duplicating — the sink half of the at-least-once
    contract.  The mechanism assumes the spool dir is shared storage, the
    same assumption Spark's own file sinks make.

    Live (``transport=qpid``): each task opens a ``QpidSender`` and
    publishes row-by-row with reconnect-on-disconnect (same backoff policy
    as the reader's fetch, ``_retry_on_disconnect``).  AMQP has no cross-message
    transaction, so the live sink is at-least-once: ``commit`` is a no-op
    and a retried task may re-send its partition — the same contract as
    the source side.  The reference has no sink at all (ingestion-only
    connector), so this is an engine-completeness upgrade, not a parity
    port.
    """

    def __init__(self, options: dict):
        import uuid

        self.options = options
        self.live = options.get("transport", "qpid") != "spool"
        if self.live:
            self._check_live_stack()
            self.spool_dir = None
        else:
            self.spool_dir = options["spooldir"]
        # Each batch .save() finalizes under its own job epoch, taken here
        # on the driver: the zero-padded wall clock in ns, so successive
        # publishes sort in publish order (the spool's consumption order),
        # plus a random suffix so concurrent publishers never collide.
        # Streaming epochs are e<batchId> (zero-padded), stable across
        # restarts so a replayed epoch re-renames onto the same files
        # (idempotent); two streaming queries sharing one spooldir must
        # therefore pass distinct queryName=… options to namespace epochs.
        self.batch_epoch = f"b{time.time_ns():020d}-{uuid.uuid4().hex[:6]}"
        self.query_prefix = options.get("queryname", "")

    def _check_live_stack(self) -> None:  # pragma: no cover
        try:
            import proton  # noqa: F401
        except ImportError as e:
            raise ImportError(
                "live AMQP publish needs python-qpid-proton (absent in "
                "this container); use transport=spool"
            ) from e

    def _make_sender(self) -> QpidSender:  # pragma: no cover
        return QpidSender(
            host=self.options.get("host", "localhost"),
            port=int(self.options.get("port", 5672)),
            address=self.options.get("address", "spark"),
            username=self.options.get("username"),
            password=self.options.get("password"),
        )

    @staticmethod
    def _send_with_reconnect(sender, msg: dict) -> None:
        """Send one message via the shared reconnect/backoff policy.  A
        message whose send raced the drop may reach the broker twice —
        at-least-once (the mirror of the source's redelivery contract)."""
        _retry_on_disconnect(lambda: sender.send(msg), sender.reconnect)

    def _write_live(self, iterator, pid: int) -> _SpoolCommit:
        sender = self._make_sender()
        n = 0
        try:
            for row in iterator:
                self._send_with_reconnect(sender, _row_to_msg(row))
                n += 1
        finally:
            sender.close()
        return _SpoolCommit(None, pid, n)

    def write(self, iterator) -> _SpoolCommit:
        import uuid

        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else 0
        if self.live:
            return self._write_live(iterator, pid)
        os.makedirs(self.spool_dir, exist_ok=True)
        tmp = os.path.join(self.spool_dir, f".inprogress-{uuid.uuid4().hex}.tmp")
        n = 0
        with open(tmp, "w") as f:
            for row in iterator:
                f.write(json.dumps(_row_to_msg(row), separators=(",", ":")) + "\n")
                n += 1
        return _SpoolCommit(tmp, pid, n)

    def _finalize(self, messages, epoch: str) -> None:
        for m in messages:
            if m is None or m.tmp_path is None:  # live sends: nothing to rename
                continue
            final = os.path.join(
                self.spool_dir, f"{epoch}-{m.partition_id:05d}.jsonl"
            )
            os.replace(m.tmp_path, final)

    # batch path: DataSourceWriter.commit(messages)
    # stream path: DataSourceStreamWriter.commit(messages, batchId)
    def commit(self, messages, batchId=None) -> None:
        if batchId is None:
            epoch = self.batch_epoch
        else:
            prefix = f"{self.query_prefix}-" if self.query_prefix else ""
            # zero-padded to a Java long's 19 digits: names sort in batch
            # order, the spool's consumption order
            epoch = f"{prefix}e{batchId:019d}"
        self._finalize(messages, epoch)

    def abort(self, messages, batchId=None) -> None:
        for m in messages:
            if m is not None and m.tmp_path and os.path.exists(m.tmp_path):
                os.remove(m.tmp_path)


class AMQPDataSource(DataSource):
    """``spark.read[Stream].format("amqp")`` — envelope-schema AMQP source."""

    @classmethod
    def name(cls) -> str:
        return "amqp"

    def schema(self) -> StructType:
        return ENVELOPE_SCHEMA

    def reader(self, schema: StructType) -> AMQPBatchReader:
        return AMQPBatchReader(dict(self.options))

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        """Partitioned executor-side reader when ``spooldirs`` is given
        (scale-out mode); otherwise the driver-side simple reader below in
        PySpark's prefetch-and-cache wrapper."""
        if dict(self.options).get("spooldirs"):
            return AMQPScaleOutStreamReader(dict(self.options))
        return _StoppableSimpleReaderWrapper(self.simpleStreamReader(schema))

    def simpleStreamReader(self, schema: StructType) -> AMQPStreamReader:
        return AMQPStreamReader(dict(self.options))

    def writer(self, schema: StructType, overwrite: bool) -> AMQPWriter:
        return AMQPWriter(dict(self.options))

    def streamWriter(self, schema: StructType, overwrite: bool) -> AMQPWriter:
        return AMQPWriter(dict(self.options))


def register_amqp_source(spark) -> None:
    spark.dataSource.register(AMQPDataSource)
