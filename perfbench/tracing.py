"""Per-layer measurements for the traced run, all taken from outside the
program:

- ``parse_event_log``: a Spark event log (``spark.eventLog.enabled``,
  uncompressed) summed per job description into stage and task metrics;
- ``time_simple_reader`` / ``time_scaleout``: the public entry points of
  ``sources/amqp.py`` called directly, in this process, on a workload's
  own spool.  Spark runs
  the data source in its own Python workers, so wrappers set here would
  never reach the code the stream runs;
- ``CacheProbe``: counts of ``tables.shared_cache`` builds, hits and
  evictions, by wrapping the function where the program's modules look it
  up.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import defaultdict

STAGE_KEYS = ("cpu_ms", "run_ms", "shuffle_read_mb", "shuffle_write_mb",
              "spill_mb", "stages", "tasks")
_MB = 1024.0 * 1024.0


def event_log_files(log_dir: str) -> list[str]:
    """Every event log file below ``log_dir`` (plain or rolling layout)."""
    out = []
    for base, _dirs, files in os.walk(log_dir):
        out.extend(os.path.join(base, f) for f in files
                   if not f.startswith(".") and not f.endswith(".crc"))
    return sorted(out)


def parse_event_log(lines) -> dict[str, dict[str, float]]:
    """Stage and task metrics per job description.

    ``lines`` are the JSON lines of an event log.  A stage is attributed to
    the description of the job that submitted it (``spark.job.description``
    in the job's properties; jobs without one are grouped under ``""``).
    Task metrics are summed from ``SparkListenerTaskEnd`` events.
    """
    stage_desc: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(STAGE_KEYS, 0.0))
    seen_stages: set[int] = set()
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description", "")
            for sid in ev.get("Stage IDs", []):
                stage_desc[sid] = desc
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            m = ev.get("Task Metrics") or {}
            row = out[stage_desc.get(sid, "")]
            if sid not in seen_stages:
                seen_stages.add(sid)
                row["stages"] += 1
            row["tasks"] += 1
            row["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            row["run_ms"] += m.get("Executor Run Time", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            row["shuffle_read_mb"] += (rd.get("Remote Bytes Read", 0)
                                       + rd.get("Local Bytes Read", 0)) / _MB
            wr = m.get("Shuffle Write Metrics") or {}
            row["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / _MB
            row["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                + m.get("Disk Bytes Spilled", 0)) / _MB
    return dict(out)


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    lines: list[str] = []
    for path in event_log_files(log_dir):
        with open(path) as f:
            lines.extend(f)
    return parse_event_log(lines)


def sum_rows(rows) -> dict[str, float]:
    total = dict.fromkeys(STAGE_KEYS, 0.0)
    for row in rows:
        for k in STAGE_KEYS:
            total[k] += row[k]
    return total


def stage_metrics(row: dict[str, float]) -> dict[str, float]:
    return {
        "stage.cpu_ms": row["cpu_ms"],
        "stage.run_ms": row["run_ms"],
        "stage.shuffle_read_mb": row["shuffle_read_mb"],
        "stage.shuffle_write_mb": row["shuffle_write_mb"],
        "stage.spill_mb": row["spill_mb"],
        "stage.count": row["stages"],
        "task.count": row["tasks"],
    }


def time_simple_reader(spool_dir: str, max_per_batch: int) -> dict[str, float]:
    """``SpoolTransport.fetch`` alone, then ``AMQPStreamReader.read``
    with its own fetch timed separately (the remainder is row and
    Arrow build).  ``read_n`` is the number of rows ``read`` returned."""
    from streaming_amqp_spark.sources.amqp import AMQPStreamReader, SpoolTransport

    transport = SpoolTransport(spool_dir)
    n = 0
    t0 = time.perf_counter()
    while batch := transport.fetch(max_per_batch):
        n += len(batch)
    fetch_s = time.perf_counter() - t0

    reader = AMQPStreamReader({
        "transport": "spool", "spooldir": spool_dir, "reliable": "true",
        "maxmessagesperbatch": str(max_per_batch),
    })
    inner = reader.transport.fetch
    in_fetch = [0.0]

    def timed_fetch(k):
        t = time.perf_counter()
        try:
            return inner(k)
        finally:
            in_fetch[0] += time.perf_counter() - t

    reader.transport.fetch = timed_fetch
    offset = reader.initialOffset()
    read_n = 0
    t0 = time.perf_counter()
    while True:
        it, end = reader.read(offset)
        got = sum(b.num_rows for b in it)
        reader.commit(end)
        if end == offset:
            break
        read_n += got
        offset = end
    read_s = time.perf_counter() - t0
    return {
        "sources.fetch_us_per_msg": fetch_s / max(n, 1) * 1e6,
        "sources.read_self_us_per_msg": (read_s - in_fetch[0]) / max(read_n, 1) * 1e6,
        "sources.malformed_dropped": transport.malformed,
        "read_n": read_n,
    }


# the sink's per-message cost is steady well before the whole spool
WRITE_PROBE_ROWS = 100_000


def time_scaleout(spool_dir: str, max_bytes: int, out_dir: str) -> dict[str, float]:
    """``AMQPScaleOutStreamReader.latestOffset``/``read`` over the whole
    spool in capped batches, then ``AMQPWriter.write`` of the first
    ``WRITE_PROBE_ROWS`` rows read.  Dropped lines are the non-blank lines
    the reader did not return."""
    from streaming_amqp_spark.sources.amqp import (
        AMQPScaleOutStreamReader,
        AMQPWriter,
    )

    reader = AMQPScaleOutStreamReader({
        "spooldirs": spool_dir, "maxbytesperbatch": str(max_bytes),
    })
    start = reader.initialOffset()
    latest_ms, read_s, batches = [], 0.0, []
    while True:
        t = time.perf_counter()
        end = reader.latestOffset()
        latest_ms.append((time.perf_counter() - t) * 1000.0)
        if end == start:
            break
        t = time.perf_counter()
        for part in reader.partitions(start, end):
            batches.extend(reader.read(part))
        read_s += time.perf_counter() - t
        start = end
    n_read = sum(b.num_rows for b in batches)
    rows = []
    for b in batches:
        if len(rows) >= WRITE_PROBE_ROWS:
            break
        rows.extend(b.to_pylist())
    del rows[WRITE_PROBE_ROWS:]
    lines = 0
    for f in os.listdir(spool_dir):
        if f.endswith(".jsonl"):
            with open(os.path.join(spool_dir, f), "rb") as fh:
                lines += sum(1 for raw in fh if raw.strip())
    writer = AMQPWriter({"transport": "spool", "spooldir": out_dir})
    t = time.perf_counter()
    commit = writer.write(iter(rows))
    write_s = time.perf_counter() - t
    writer.abort([commit])
    latest_ms.sort()
    return {
        "sources.scaleout_read_us_per_msg": read_s / max(n_read, 1) * 1e6,
        "sources.latest_offset_ms": latest_ms[len(latest_ms) // 2],
        "sources.write_us_per_msg": write_s / max(len(rows), 1) * 1e6,
        "sources.malformed_dropped": lines - n_read,
    }


class CacheProbe:
    """Counts ``tables.shared_cache`` decisions made by the driver.

    The program's modules import ``shared_cache`` by name, so the wrapper
    replaces that name in every loaded ``streaming_amqp_spark`` module; the
    function itself is unchanged.  ``uninstall`` restores the original."""

    def __init__(self):
        self.builds = self.hits = self.evictions = 0
        self._patched: list[tuple[object, object]] = []

    def install(self) -> None:
        from streaming_amqp_spark import tables

        original = tables.shared_cache
        probe = self

        def shared_cache(spark, key, build):
            reg = getattr(spark, "_saq_shared_cache", None) or {}
            before = set(reg)
            hit = key in reg
            df = original(spark, key, build)
            after = set(getattr(spark, "_saq_shared_cache", {}))
            if hit:
                probe.hits += 1
            else:
                probe.builds += 1
            probe.evictions += len(before - after)
            return df

        for name, mod in list(sys.modules.items()):
            if name.startswith("streaming_amqp_spark") and \
                    getattr(mod, "shared_cache", None) is original:
                self._patched.append((mod, original))
                mod.shared_cache = shared_cache

    def uninstall(self) -> None:
        for mod, original in self._patched:
            mod.shared_cache = original
        self._patched.clear()


def cached_mb(spark) -> float:
    """Storage memory held by cached relations right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / _MB
