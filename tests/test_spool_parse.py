"""The spool parse: the columnar path (``_columnar_spool_batch``, one
``pyarrow.json`` call per byte range) against the spool-line rule's own
line loop (``_parse_spool_lines`` → ``_rows_to_arrow_batch``).

Wherever the columnar path takes a range, its RecordBatch equals the line
loop's column for column, and its malformed count and bytes used are the
loop's; where it cannot vouch for that it declines, and the loop reads the
range.  The fixed cases pin the traps a block-level ``pyarrow.json`` parse
falls into; the poison-line cases pin what the rule drops on every
reader."""

from __future__ import annotations

import json
import random
import sys
import time

import pytest

import streaming_amqp_spark.sources.amqp as amqp_mod
from streaming_amqp_spark.sources.amqp import (
    AMQPBatchReader,
    AMQPScaleOutStreamReader,
    AMQPStreamReader,
    SpoolTransport,
)
from tests.conftest import envelope_rows

# the read time a message without ``ingest_ts`` is stamped with
FROZEN_NOW = 1_700_000_000.123456


@pytest.fixture
def frozen_now(monkeypatch):
    monkeypatch.setattr(amqp_mod.time, "time", lambda: FROZEN_NOW)


def _row_path(data: bytes, max_n: int = sys.maxsize):
    rows, malformed, used = amqp_mod._parse_spool_lines(data, max_n)
    return amqp_mod._rows_to_arrow_batch(rows), malformed, used


def _assert_same(columnar, row_path, ctx=""):
    batch, malformed, used = columnar
    want, want_malformed, want_used = row_path
    assert batch.schema.equals(want.schema), ctx
    for c in range(want.num_columns):
        assert batch.column(c).equals(want.column(c)), (ctx, want.schema.names[c])
    assert (malformed, used) == (want_malformed, want_used), ctx


def _ts_line(i, ts):
    return json.dumps({"message_id": f"m{i}", "body": str(i), "ingest_ts": ts})


PERFBENCH_LINE = (
    '{"message_id":"m8","to_address":"temperature","body":"21",'
    '"ingest_ts":"2026-01-01T00:00:00.125"}\n'
)

# (bytes, max_n, whether the columnar path takes the range)
TRAPS = {
    # pyarrow.json reads a newline as whitespace: one object over two lines
    # is two malformed lines to the rule, never one row
    "merged-object": (b'{"message_id":"a"\n,"body":"x"}\n', sys.maxsize, True),
    # two objects on one line parse as two rows but are one malformed line
    "two-objects-one-line": (
        b'{"message_id":"a"}{"message_id":"b"}\n{"message_id":"c"}\n',
        sys.maxsize, False,
    ),
    # the generator's planted malformed line must not swallow the next line
    "planted-line-then-valid": (
        b'{"message_id": "bad7", "body": \n' + PERFBENCH_LINE.encode(),
        sys.maxsize, True,
    ),
    "duplicate-keys": (b'{"message_id":"a","message_id":"b"}\n', sys.maxsize, False),
    "escaped-duplicate-key": (
        b'{"message_id":"a","message\\u005fid":"b"}\n', sys.maxsize, False,
    ),
    "non-string-fields": (
        b'{"message_id":5,"subject":true,"reply_to":1.5e2,"body":[1,{"k":null}]}\n',
        sys.maxsize, False,
    ),
    "non-string-body": (b'{"message_id":"a","body":7}\n', sys.maxsize, False),
    "unknown-key": (b'{"message_id":"a","x-extra":"y"}\n', sys.maxsize, False),
    "maps-and-binary-body": (
        b'{"message_id":"a","application_properties":{"k":1},"body_b64":"aGk="}\n',
        sys.maxsize, False,
    ),
    "zulu-and-offset-timestamps": (
        "\n".join([
            _ts_line(0, "2024-01-01T00:00:00Z"),
            _ts_line(1, "2024-01-01T00:00:00.5+02:00"),
            _ts_line(2, "2024-06-30 23:59:59.123456-07:30"),
            _ts_line(3, "2024-01-01T00:00:00.000001"),
        ]).encode() + b"\n",
        sys.maxsize, True,
    ),
    "absent-and-empty-ingest-ts": (
        b'{"message_id":"a"}\n{"message_id":"b","ingest_ts":""}\n'
        b'{"message_id":"c","ingest_ts":null}\n{}\n',
        sys.maxsize, True,
    ),
    "date-only-timestamp": (
        _ts_line(0, "2024-01-01").encode() + b"\n", sys.maxsize, False,
    ),
    "offset-minutes-out-of-range": (
        _ts_line(0, "2024-01-01T00:00:00+02:60").encode() + b"\n",
        sys.maxsize, False,
    ),
    "blank-lines": (
        b'\n   \n{"message_id":"a","body":"x"}\n\t\n\n', sys.maxsize, True,
    ),
    "crlf-lines": (
        b'{"message_id":"a"}\r\n{"message_id":"b"}\r\n', sys.maxsize, False,
    ),
    "bare-cr-lines": (
        b'{"message_id":"a"}\r{"message_id":"b"}\n', sys.maxsize, False,
    ),
    # pyarrow.json reads a CR as whitespace; the rule splits the line there
    "cr-inside-object": (
        b'{"message_id":"a",\r"body":"x"}\n', sys.maxsize, False,
    ),
    # json.loads takes an object padded with whitespace; it is not {...}
    "padded-object": (b' {"message_id":"a"}\t\n', sys.maxsize, False),
    # the UTC conversion leaves the calendar: a malformed line to the rule
    "year-out-of-range": (
        _ts_line(0, "0001-01-01T00:00:00+01:00").encode() + b"\n",
        sys.maxsize, False,
    ),
    "escapes": (
        b'{"body":"caf\\u00e9 \\ud83d\\ude00 a\\u0000b \\/ \\"q\\" \\\\"}\n',
        sys.maxsize, True,
    ),
    "raw-utf8": ('{"body":"café ☃ 😀","subject":"\x7f"}\n'.encode(), sys.maxsize, True),
    "invalid-utf8": (b'{"message_id":"a","body":"caf\xff"}\n', sys.maxsize, False),
    "non-object-lines": (
        b'"a string"\n[1, 2]\n42\nnull\n{"message_id":"a"}\n', sys.maxsize, True,
    ),
    # a parse block holds whole lines, however long
    "line-longer-than-a-parse-block": (
        b'{"message_id":"a","body":"' + b"x" * 300_000 + b'"}\n{"message_id":"b"}\n',
        sys.maxsize, True,
    ),
    "torn-tail": (b'{"message_id":"a"}\n{"message_id":"b"', sys.maxsize, True),
    "cut-at-max-n": (
        b'{"message_id":"a"}\n{bad\n\n{"message_id":"b"}\n{bad\n{"message_id":"c"}\n',
        2, True,
    ),
}


@pytest.mark.parametrize("case", list(TRAPS), ids=list(TRAPS))
def test_columnar_parse_pins_trap_cases(case, frozen_now):
    data, max_n, columnar = TRAPS[case]
    got = amqp_mod._columnar_spool_batch(data, max_n)
    assert (got is not None) == columnar
    want = _row_path(data, max_n)
    if got is not None:
        _assert_same(got, want, case)
    _assert_same(amqp_mod._parse_spool_batch(data, max_n), want, case)


@pytest.fixture
def local_zone(monkeypatch):
    """Set the process's local zone; the old one is back after the test.
    ``_parse_iso_ts`` memoizes under one zone, so its memo is cleared."""

    def set_zone(tz):
        monkeypatch.setenv("TZ", tz)
        time.tzset()
        amqp_mod._parse_iso_ts.cache_clear()

    yield set_zone
    monkeypatch.undo()
    time.tzset()
    amqp_mod._parse_iso_ts.cache_clear()


@pytest.mark.parametrize("tz", ["America/New_York", "EST+5EDT,M3.2.0/2,M11.1.0/2",
                                "Asia/Kolkata", "UTC"])
def test_naive_timestamps_read_as_local_time(local_zone, frozen_now, tz):
    """The rule reads a naive ``ingest_ts`` as local time.  The columnar
    path takes naive stamps under any local zone, including the hour a
    DST change skips and the one it repeats, mixed with zoned ones."""
    local_zone(tz)
    stamps = ["2024-01-01T00:00:00", "2024-03-10T02:30:00.25", "2024-11-03T01:30:00",
              "2024-11-03T01:30:00", "2024-07-01 12:00:00+01:00", "2024-07-01T12:00:00Z",
              "", None]
    data = "".join(
        json.dumps({"message_id": f"m{i}", "ingest_ts": ts}) + "\n"
        for i, ts in enumerate(stamps)
    ).encode()
    got = amqp_mod._columnar_spool_batch(data, sys.maxsize)
    assert got is not None
    _assert_same(got, _row_path(data))


GOOD_TS = ["2025-03-04T05:06:07.891", "2025-03-04 05:06:07",
           "2025-03-04T05:06:07Z", "2025-03-04T05:06:07.5-03:30", "", None]
# lines the rule drops that are not ``{...}``-shaped
UNSHAPED = [b"", b"  ", b'{"message_id": "bad", "body": ', b"{not json",
            b"[1]", b'"s"']
# lines the columnar path must decline
DECLINED = [
    b' {"message_id":"j"} ',
    b'{"message_id":"p","ingest_ts":"yesterday"}',
    b'{"message_id":"p","ingest_ts":"2025-02-30T00:00:00"}',
    b'{"message_id":"p","ingest_ts":12}',
    b'{"message_id":"p","application_properties":"x"}',
    b'{"message_id":"p","message_annotations":[1]}',
    b'{"message_id":"p","body":"\\ud800"}',
    b'{"message_id":"d","message_id":"e"}',
    b'{"message_id":"f"}{"message_id":"g"}',
    b'{"message_id":3,"body":{"k":[1]}}',
    b'{"message_id":"h","application_properties":{"k":"v"}}',
    b'{"message_id":"i","body_b64":"aGk="}',
]


def _random_line(rng, i, pure):
    """One spool line, without its newline: a message, an unshaped
    malformed line, or (unless ``pure``) a shaped line to decline."""
    kind = rng.random()
    if kind < 0.7 or pure and kind >= 0.85:
        msg = {"message_id": f"m{i}", "to_address": rng.choice(["t", None]),
               "body": rng.choice([str(i), "café", None, "☃"])}
        if (ts := rng.choice(GOOD_TS)) is not None:
            msg["ingest_ts"] = ts
        return json.dumps(msg, ensure_ascii=rng.random() < 0.5).encode()
    if kind < 0.85:
        return rng.choice(UNSHAPED)
    return rng.choice(DECLINED)


def test_columnar_parse_equals_row_path_on_random_spools(frozen_now):
    """Seeded random ranges of every line shape above, cut at random
    ``max_n``: wherever the columnar path takes a range its result is the
    row path's, and it takes every range free of declined lines."""
    rng = random.Random(7)
    taken = 0
    for seed in range(300):
        pure = seed % 2 == 0
        lines = [_random_line(rng, i, pure) for i in range(rng.randint(1, 30))]
        data = b"\n".join(lines) + rng.choice([b"\n", b"", b'\n{"torn'])
        max_n = rng.choice([1, 2, 5, sys.maxsize])
        got = amqp_mod._columnar_spool_batch(data, max_n)
        assert got is not None or not pure, f"seed {seed}: declined {data!r}"
        if got is not None:
            taken += 1
            _assert_same(got, _row_path(data, max_n), f"seed {seed}")
    assert taken >= 150, taken


# -- poison lines ------------------------------------------------------------

POISON = {
    "ingest-ts-not-iso": b'{"message_id":"p","ingest_ts":"yesterday"}',
    "ingest-ts-not-string": b'{"message_id":"p","ingest_ts":20240101}',
    "properties-not-object": b'{"message_id":"p","application_properties":[1,2]}',
    "annotations-not-object": b'{"message_id":"p","message_annotations":"x"}',
    "lone-surrogate": b'{"message_id":"p","body":"ok","subject":"\\ud800"}',
}


def _poisoned_spool(tmp_path, shape):
    spool = tmp_path / "spool"
    spool.mkdir()
    (spool / "000.jsonl").write_bytes(
        b'{"message_id":"a","body":"1"}\n' + POISON[shape]
        + b'\n{"message_id":"c","body":"3"}\n'
    )
    return str(spool)


def _simple_ids(spool):
    r = AMQPStreamReader({"transport": "spool", "spooldir": spool})
    rows, _ = r.read(r.initialOffset())
    assert r.transport.malformed == 1
    return [row[0] for row in envelope_rows(rows)]


def _scaleout_ids(spool):
    r = AMQPScaleOutStreamReader({"spooldirs": spool})
    parts = r.partitions(r.initialOffset(), r.latestOffset())
    return [row[0] for p in parts for row in envelope_rows(r.read(p))]


def _batch_ids(spool):
    r = AMQPBatchReader({"transport": "spool", "spooldir": spool})
    return [row[0] for p in r.partitions() for row in envelope_rows(r.read(p))]


@pytest.mark.parametrize(
    "read_ids", [_simple_ids, _scaleout_ids, _batch_ids],
    ids=["simple", "scaleout", "batch"],
)
@pytest.mark.parametrize("shape", list(POISON), ids=list(POISON))
def test_poison_line_is_dropped(tmp_path, shape, read_ids):
    """A JSON object whose fields do not convert to an envelope row is a
    malformed line on every reader: dropped and counted, never a crash
    that would fail the batch and, on replay, every restart after it."""
    assert read_ids(_poisoned_spool(tmp_path, shape)) == ["a", "c"]


# -- the columnar path on a realistic spool -----------------------------------


def _generator_spool(tmp_path, n_files=3, lines=4000, share=0.004):
    """Files in the benchmark generator's line format: temperature
    readings, and a planted malformed line at ``share``."""
    rng = random.Random(11)
    spool = tmp_path / "gen"
    spool.mkdir()
    planted, i = 0, 0
    for fi in range(n_files):
        out = []
        for _ in range(lines):
            if rng.random() < share:
                out.append(f'{{"message_id": "bad{i}", "body": \n')
                planted += 1
            else:
                ts = time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(1.7e9 + i))
                out.append(
                    f'{{"message_id":"m{i}","to_address":"temperature",'
                    f'"body":"{rng.randrange(-20, 40)}","ingest_ts":"{ts}.{i % 1000:03d}"}}\n'
                )
            i += 1
        (spool / f"{fi:05d}.jsonl").write_text("".join(out))
    return str(spool), planted


def test_columnar_path_takes_every_batch_of_a_generator_spool(tmp_path, monkeypatch):
    """A spool with 0.4% malformed lines takes the columnar path for every
    batch of every reader; a slide back to the row path fails here."""
    spool, planted = _generator_spool(tmp_path)
    assert planted >= 20
    calls = {"columnar": 0, "declined": 0}
    real = amqp_mod._columnar_spool_batch

    def counting(data, max_n):
        got = real(data, max_n)
        calls["columnar" if got is not None else "declined"] += 1
        return got

    monkeypatch.setattr(amqp_mod, "_columnar_spool_batch", counting)
    t, n = SpoolTransport(spool), 0
    while batch := t.fetch(1000):
        n += batch.num_rows
    assert n + planted == 12_000 and t.malformed == planted
    assert len(_scaleout_ids(spool)) == len(_batch_ids(spool)) == n
    assert calls["declined"] == 0 and calls["columnar"] >= 12
