"""The streaming workload ``ingest_window``: the paper's canonical query.

One spool directory, the driver-side simple reader (``AMQPStreamReader``,
``reliable=true``), ``temperature_max_per_window`` in update mode and the
in-memory sink (it keeps every emitted window row in the JVM, so no
per-batch call back into Python adds to the batches being measured).

One run, after set-up, has three phases:

1. cold: the run's first query (a fresh JVM and a new checkpoint) drains a
   preloaded backlog, paying every one-time start-up cost as a user's
   first stream does;
2. warm: the same query drains an untimed warm-up backlog (the JIT is
   still compiling the batch path after the cold drain), then
   ``WARM_DRAINS`` timed backlogs of the same size, one after the other
   (closed loop; a drain's rate is measured from the end of its
   first batch to the end of its last, as ``bench.py`` does; the drain
   rate and the warm total are medians over the drains, so one drain
   slowed by a busy host moves them least);
3. ladder: open loop for the run's measuring time: a reference rung at
   ``REF_RATE`` for half of it, then a ramp of short rungs rising by
   ``RAMP_STEP`` from above the reference rate to ``RAMP_TOP``.
   Latency is per message, from the generator's creation stamp to the end
   of the micro-batch that carried the message, over the reference rung:
   its p50 and p95 are the medians of the p50 and p95 of the rung's
   ``REF_SEGMENTS`` consecutive equal slices of messages.
   The sustained rate is the highest offered rate at which a micro-batch
   still took every message created before it started (the backlog did not
   grow) and the latency p95 of the messages it carried stayed under
   ``LATENCY_LIMIT_MS``; the offered rate is the generator's measured rate
   in the second around the batch's start.  After the last rung the query
   drains what the ramp left behind, so every message is read before the
   query stops.

Batch end times and the offsets each batch covered come from
``StreamingQueryProgress``, so nothing is added inside the program.
"""

from __future__ import annotations

import calendar
import json
import os
import time
from datetime import datetime, timezone

import numpy as np

import gen as genmod
from harness import log, median, quantile

WINDOW_S = 5
MAX_PER_BATCH = 20_000  # simple-reader admission cap (maxMessagesPerBatch)
WARM_DRAINS = 3
WARM = tuple(f"warm{k}" for k in range(WARM_DRAINS))
# preloaded messages per drain
BACKLOG_N = {"cold": 20_000, **dict.fromkeys(("warmup", *WARM), 100_000)}
REF_RATE = 5_000  # msg/s
REF_SEGMENTS = 3
RAMP_STEP = 1_000
RAMP_TOP = 36_000  # above what the reader can take on a 4-core host
# several times the reference latency (~1 s): backlog growth, not a slow
# micro-batch on a busy host, sets the sustained rate
LATENCY_LIMIT_MS = 5_000
# a message created this long before a batch started may still have been
# in the generator's write buffer when the batch read the spool
WRITE_SLACK_S = 0.05


def prepare_backlogs(gen, group: str) -> None:
    """Have the generator write both backlogs of ``group`` (hidden until
    released) while other work goes on."""
    for phase, n in BACKLOG_N.items():
        gen.post({"op": "prepare", "group": group, "phase": f"{group}:{phase}",
                  "n": n})


def schedule(seconds: float) -> list[list[float]]:
    """[rate, seconds] of each rung: the reference rung for half of
    ``seconds``, then the ramp over the rest."""
    ramp = range(REF_RATE + RAMP_STEP, RAMP_TOP + 1, RAMP_STEP)
    return ([[REF_RATE, 0.5 * seconds]]
            + [[r, 0.5 * seconds / len(ramp)] for r in ramp])


def _batch_end(p: dict) -> float:
    start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    start = start.replace(tzinfo=timezone.utc).timestamp()
    return start + p["durationMs"]["triggerExecution"] / 1000.0


def progress(q) -> list[dict]:
    """Data-carrying micro-batches of ``q``, oldest first."""
    out = []
    for p in q.recentProgress:
        d = json.loads(p.json)
        if d.get("numInputRows", 0) > 0 and "addBatch" in d.get("durationMs", {}):
            d["end"] = _batch_end(d)
            out.append(d)
    out.sort(key=lambda d: d["batchId"])
    return out


class StreamWorkload:
    """The streaming workload run against an open session."""

    def __init__(self, spark, run, gen, seconds: float):
        self.spark = spark
        self.run = run
        self.gen = gen
        self.seconds = seconds
        # group -> [(window start, max)] emitted by the sink
        self.windows: dict[str, list[tuple[int, int]]] = {}

    # -- query ---------------------------------------------------------
    def spool(self, group: str) -> str:
        return genmod.group_dir(self.run.sub("spool"), group)

    def start(self, group: str):
        from streaming_amqp_spark import api
        from streaming_amqp_spark.streaming.windows import temperature_max_per_window

        spool = self.spool(group)
        os.makedirs(spool, exist_ok=True)
        env = api.create_stream(
            self.spark, transport="spool", spooldir=spool,
            maxMessagesPerBatch=MAX_PER_BATCH, reliable="true",
        )
        return (
            temperature_max_per_window(env).writeStream.outputMode("update")
            .format("memory").queryName(_table(group))
            .option("checkpointLocation", self.run.sub("checkpoints", group))
            .start()
        )

    def collect_windows(self, group: str) -> None:
        rows = self.spark.sql(
            f"SELECT window_start, max_temperature FROM {_table(group)}").collect()
        self.windows[group] = [
            (calendar.timegm(r["window_start"].timetuple()), r["max_temperature"])
            for r in rows]

    # -- phases --------------------------------------------------------
    def measure(self, group: str, ladder: bool = True) -> dict:
        """Run the phases on spool group ``group`` (its backlogs already
        prepared); returns the raw timeline for ``analyse``."""
        gen = self.gen
        t_vis = gen.call({"op": "release", "phase": f"{group}:cold"})["t_visible"]
        t_start = time.time()
        q = self.start(group)
        marks = {"cold_visible": t_vis, "cold_start": t_start, "warm_visible": []}
        try:
            q.processAllAvailable()
            log("cold drained")
            for phase in ("warmup", *WARM):
                marks["warm_visible"].append(gen.call(
                    {"op": "release", "phase": f"{group}:{phase}"})["t_visible"])
                q.processAllAvailable()
            log("warm drained")
            if ladder:
                marks["ladder"] = gen.call(
                    {"op": "openloop", "group": group, "phase": f"{group}:ladder",
                     "rungs": schedule(self.seconds)})["rungs"]
                q.processAllAvailable()
                log("open loop drained")
        finally:
            q.stop()
        self.collect_windows(group)
        batches = progress(q)
        return {"group": group, "marks": marks, "batches": batches}


PHASES = ("cold", "warmup", *WARM, "ladder")


def _phases(manifest: dict, group: str) -> list[dict]:
    """The group's phases in run order (a pass without a ladder has two)."""
    return [manifest["phases"][f"{group}:{p}"] for p in PHASES
            if f"{group}:{p}" in manifest["phases"]]


def analyse(timeline: dict, manifest: dict) -> dict:
    """End-to-end metrics and per-message latencies from the timeline and
    the generator's manifest."""
    group = timeline["group"]
    marks = timeline["marks"]
    phases = dict(zip(PHASES, _phases(manifest, group)))
    order = list(phases)
    t_create = np.concatenate([np.asarray(phases[p]["t"]) for p in order])
    counts = [len(phases[p]["t"]) for p in order]
    bounds = np.cumsum([0] + counts)

    def phase_slice(p):
        i = order.index(p)
        return slice(bounds[i], bounds[i + 1])

    cold = phase_slice("cold")
    # when each message could first be read: a backlog at its release
    t_avail = t_create.copy()
    t_avail[cold] = marks["cold_visible"]
    for p, t_vis in zip(("warmup", *WARM), marks["warm_visible"]):
        t_avail[phase_slice(p)] = t_vis
    batches = timeline["batches"]
    ends = np.array([b["end"] for b in batches])
    starts = ends - np.array([b["durationMs"]["triggerExecution"]
                              for b in batches]) / 1000.0
    # the simple reader's offset is the count of valid messages taken
    end_seq = np.array([json_offset(b["sources"][0]["endOffset"])["seq"]
                        for b in batches])
    batch_of = np.searchsorted(end_seq, np.arange(len(t_create)), side="right")
    processed = batch_of < len(batches)
    done_at = np.where(processed, ends[np.minimum(batch_of, len(batches) - 1)],
                       np.inf)
    latency_ms = (done_at - t_create) * 1000.0

    warm_ms = [b["durationMs"]["triggerExecution"] for b in batches
               if b["end"] > marks["warm_visible"][1]]
    log(f"{group}: median batch after the warm-up {median(warm_ms):.0f} ms")
    cold_total = float(np.max(done_at[cold]) - marks["cold_start"])
    totals, rates = [], []
    for p, t_vis in zip(WARM, marks["warm_visible"][1:]):
        sl = phase_slice(p)
        totals.append(float(np.max(done_at[sl]) - t_vis))
        drain_batches = sorted(set(batch_of[sl].tolist()))
        first, last = drain_batches[0], drain_batches[-1]
        later = int(np.sum(batch_of[sl] > first))
        rates.append(later / (ends[last] - ends[first]) if last > first else 0.0)
    log(f"{group}: warm drains {[round(r) for r in rates]} msg/s, "
        f"{[round(t, 2) for t in totals]} s")
    metrics = {"cold_total_s": cold_total, "warm_total_s": median(totals),
               "drain_msgs_per_s": median(rates)}
    if "ladder" in phases:
        lad = phase_slice("ladder")
        metrics.update(_ladder(marks["ladder"], lad.start, t_create, t_avail,
                               latency_ms, done_at, starts, end_seq))
    # backlog at each batch start: messages readable before it, not yet taken
    taken = np.concatenate([[0], end_seq[:-1]])
    backlog = np.maximum(0, np.searchsorted(t_avail, starts, side="right") - taken)
    return {
        "metrics": metrics,
        "processed": processed,
        "final_seq": int(end_seq[-1]),
        "backlog": backlog.tolist(),
    }


def _ladder(rungs: list[dict], lad0: int, t_create, t_avail, latency_ms,
            done_at, starts, end_seq) -> dict:
    """Latency at the reference rung and the sustained rate.  ``lad0`` is
    the index of the ladder's first message; rung bounds are relative to
    it."""
    ref = slice(lad0 + rungs[0]["first"], lad0 + rungs[0]["last"])
    segments = np.array_split(latency_ms[ref], REF_SEGMENTS)
    p50 = median([quantile(s, 0.50) for s in segments])
    p95 = median([quantile(s, 0.95) for s in segments])
    ramp_start, ramp_end = rungs[1]["start"], rungs[-1]["end"]
    sustained = 0.0
    for k, t0 in enumerate(starts):
        if not ramp_start <= t0 < ramp_end:
            continue
        lo, hi = (end_seq[k - 1] if k else 0), end_seq[k]
        readable = np.searchsorted(t_avail, t0 - WRITE_SLACK_S, side="left")
        if hi <= lo or hi < readable:  # the backlog grew
            continue
        if quantile(latency_ms[lo:hi], 0.95) >= LATENCY_LIMIT_MS:
            continue
        offered = (np.searchsorted(t_create, t0 + 0.5)
                   - np.searchsorted(t_create, t0 - 0.5))
        sustained = max(sustained, float(offered))
    if sustained == 0.0:  # no ramp batch kept up: the reference rung's rate
        t = t_create[ref]
        sustained = len(t) / (float(np.max(done_at[ref])) - t[0])
    ref_ms = [round((e - s) * 1000) for s, e in zip(starts, starts[1:])
              if rungs[0]["start"] <= s < rungs[1]["start"]]
    log(f"ladder: reference batch intervals {ref_ms} ms")
    log("ladder: reference p50 by slice "
        f"{[round(quantile(s, 0.50)) for s in segments]} ms, p95 "
        f"{[round(quantile(s, 0.95)) for s in segments]} ms; "
        f"sustained {sustained:.0f} msg/s")
    return {"latency_p50_ms": p50, "latency_p95_ms": p95,
            "sustained_msgs_per_s": sustained}


def _table(group: str) -> str:
    return f"perfbench_windows_{group}"


def json_offset(off):
    return json.loads(off) if isinstance(off, str) else (off or {})


def check_ingest(windows: list, manifest: dict, group: str, processed,
                 final_seq: int) -> tuple[int, int]:
    """(messages attempted, messages failed).  Every valid message
    generated must be taken by the query (one that is not was lost), the
    reader's offset must not pass the valid messages generated, and the
    window maxima the sink emitted must equal a pure-Python max per 5 s
    window over the valid generated messages (a message fails when it is
    lost or its window's max is wrong or missing; max is idempotent, so
    at-least-once duplicates cannot hide a loss)."""
    phases = _phases(manifest, group)
    lost = len(processed) - int(np.sum(processed))
    over_read = max(0, final_seq - len(processed))
    got: dict[int, int] = {}
    for w, m in windows:
        got[w] = max(got.get(w, m), m)
    t = np.concatenate([ph["t"] for ph in phases])[processed]
    temp = np.concatenate([ph["temp"] for ph in phases])[processed]
    wins, of = np.unique(window_start(t), return_inverse=True)
    expect = np.full(len(wins), np.iinfo(np.int64).min)
    np.maximum.at(expect, of, temp)
    weight = np.bincount(of, minlength=len(wins))
    bad = sum(int(n) for w, m, n in zip(wins.tolist(), expect.tolist(), weight)
              if got.get(w) != m)
    bad += len(set(got) - set(wins.tolist()))
    if lost or over_read or bad:
        log(f"check {group}: lost {lost}, over-read {over_read}, "
            f"in wrong windows {bad}")
    return len(processed), bad + lost + over_read


def window_start(t):
    """Start (epoch seconds) of the 5 s window of each creation time, as
    the query sees it: ``ingest_ts`` is ``gen.iso_ms`` of the time, whose
    whole second is that of ``datetime.fromtimestamp`` (which rounds the
    fraction half-even to microseconds)."""
    frac, whole = np.modf(t)
    sec = whole.astype(np.int64) + (np.rint(frac * 1e6) >= 1_000_000)
    return sec - sec % WINDOW_S


def valid_count(manifest: dict, group: str) -> int:
    return sum(len(ph["t"]) for ph in _phases(manifest, group))


def planted_malformed(manifest: dict, group: str) -> int:
    return sum(ph["planted_malformed"] for ph in _phases(manifest, group))


def summarize_engine(batches: list[dict], backlog: list[int]) -> dict:
    """Median per-batch engine phases and state-store figures."""
    def med(key):
        return median([b["durationMs"].get(key, 0) for b in batches])

    state = [b["stateOperators"][0] for b in batches if b.get("stateOperators")]
    return {
        "engine.latest_offset_ms": med("latestOffset"),
        "engine.add_batch_ms": med("addBatch"),
        "engine.wal_commit_ms": med("walCommit"),
        "engine.commit_offsets_ms": med("commitOffsets"),
        "engine.query_planning_ms": med("queryPlanning"),
        "engine.trigger_ms": med("triggerExecution"),
        "engine.rows_per_batch": median([b["numInputRows"] for b in batches]),
        "engine.backlog_msgs": median(backlog),
        "state.rows_total": state[-1]["numRowsTotal"] if state else 0,
        "state.memory_bytes": max((s["memoryUsedBytes"] for s in state), default=0),
        "state.commit_ms": median([s["commitTimeMs"] for s in state]),
    }


def gen_late_ms_p95(manifest: dict) -> float:
    late = manifest["late_s"]
    return quantile(late, 0.95) * 1000.0 if len(late) else 0.0
