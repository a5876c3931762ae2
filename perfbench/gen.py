"""Load generator: a separate single-threaded process that writes AMQP
temperature messages into spool directories for the ``ingest_window``
workload.

It reads one JSON command per line on stdin and answers each with one JSON
line on stdout:

- ``{"op": "prepare", "group": g, "phase": p, "n": n}`` writes a backlog
  of ``n`` messages into a hidden file in the spool directory of group
  ``g``; ``{"op": "release", "phase": p}`` renames that file into place, so
  the whole backlog becomes visible at once (closed-loop drain).
- ``{"op": "openloop", "group": g, "phase": p, "rungs": [[rate, s], ...]}``
  writes on a fixed schedule: each rung in turn for ``s`` seconds at
  ``rate`` msg/s, message ``k`` of a rung due ``k / rate`` seconds after
  the rung starts.  The schedule never slows for the reader; how late the
  writes ran is recorded.
- ``{"op": "stop"}`` writes the manifest and exits.

Group ``g`` writes into ``<root>/<g>``.  Files are named in non-decreasing
order and only whole newline-terminated lines are written, which is the
``SpoolTransport`` contract.  Messages are a pure function of the seed and
the command sequence; a fixed share of lines is malformed.  Each message
is stamped with its creation time, which is also its ``ingest_ts``.  A
backlog was created before it is released: its messages are stamped 1 ms
apart on a clock that starts ``BACKLOG_SPAN_S`` before the group's first
backlog, so a backlog spans many 5 s windows, and a group's stamps never
decrease (the query's watermark would drop a message older than one it has
seen).  Temperatures are drawn from a wide range, so each window has a
maximum that a lost message can take with it.

The manifest (JSON; read it with ``load_manifest``) lists, per phase, the
planted malformed-line count and, for every valid message, its id,
creation time, scheduled time and temperature.
"""

from __future__ import annotations

import argparse
import base64
import json
import os
import random
import sys
import time
from array import array
from datetime import datetime, timezone

MALFORMED_SHARE = 0.004
TEMP_RANGE = (-1_000_000, 1_000_000)
BACKLOG_SPAN_S = 600.0
BACKLOG_STEP_S = 0.001
# per-message manifest columns: array typecode
_COLUMNS = {"id": "q", "t": "d", "due": "d", "temp": "q"}


def group_dir(root: str, group: str) -> str:
    return os.path.join(root, group)


def iso_ms(t: float) -> str:
    """``ingest_ts`` text of creation time ``t`` (UTC, milliseconds)."""
    return datetime.fromtimestamp(t, tz=timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S.%f")[:-3]


class Generator:
    def __init__(self, seed: int, root: str):
        # one seeded stream consumed in message order: the same seed and
        # commands give the same messages
        self.rng = random.Random(seed)
        self.root = root
        self.next_index = 0
        self.file_seq = 0
        self.phases: dict[str, dict] = {}
        self.prepared: dict[str, tuple[str, str]] = {}
        self.backlog_clock: dict[str, float] = {}
        self.late_s = array("d")

    def _line(self, t: float) -> tuple[str, int | None]:
        """Next message line and its temperature (None: malformed)."""
        i = self.next_index
        self.next_index += 1
        if self.rng.random() < MALFORMED_SHARE:
            return f'{{"message_id": "bad{i}", "body": \n', None
        temp = self.rng.randrange(*TEMP_RANGE)
        return (f'{{"message_id":"m{i}","to_address":"temperature",'
                f'"body":"{temp}","ingest_ts":"{iso_ms(t)}"}}\n'), temp

    def _emit(self, ph: dict, t: float, due: float) -> str:
        line, temp = self._line(t)
        if temp is None:
            ph["planted_malformed"] += 1
        else:
            ph["id"].append(self.next_index - 1)
            ph["t"].append(t)
            ph["due"].append(due)
            ph["temp"].append(temp)
        return line

    def _phase(self, name: str) -> dict:
        ph = self.phases.get(name)
        if ph is None:
            ph = {k: array(tc) for k, tc in _COLUMNS.items()}
            ph["planted_malformed"] = 0
            self.phases[name] = ph
        return ph

    def _file(self, group: str, tag: str) -> tuple[str, str]:
        d = group_dir(self.root, group)
        os.makedirs(d, exist_ok=True)
        self.file_seq += 1
        return d, f"{self.file_seq:05d}-{tag}.jsonl"

    def prepare(self, group: str, phase: str, n: int) -> dict:
        ph = self._phase(phase)
        d, name = self._file(group, phase)
        now = time.time()
        t0 = self.backlog_clock.setdefault(group, now - BACKLOG_SPAN_S)
        stamps = [t0 + k * BACKLOG_STEP_S for k in range(n)]
        if stamps[-1] > now:
            raise ValueError(f"backlogs of {group} outgrow BACKLOG_SPAN_S")
        self.backlog_clock[group] = t0 + n * BACKLOG_STEP_S
        with open(os.path.join(d, f".{name}.tmp"), "w") as f:
            f.write("".join(self._emit(ph, t, t) for t in stamps))
        self.prepared[phase] = (d, name)
        return {"prepared": phase}

    def release(self, phase: str) -> dict:
        d, name = self.prepared.pop(phase)
        t_visible = time.time()
        os.replace(os.path.join(d, f".{name}.tmp"), os.path.join(d, name))
        return {"t_visible": t_visible}

    def openloop(self, group: str, phase: str, schedule: list) -> dict:
        ph = self._phase(phase)
        rungs = []
        for rate, rung_s in schedule:
            d, name = self._file(group, f"{phase}-{int(rate)}")
            fd = os.open(os.path.join(d, name),
                         os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
            total = int(rate * rung_s)
            start = time.time()
            first = len(ph["t"])
            k = 0
            try:
                while k < total:
                    now = time.time()
                    due_n = min(total, int((now - start) * rate) + 1)
                    if due_n <= k:
                        time.sleep(max(0.0, start + k / rate - now))
                        continue
                    t = time.time()
                    lines = []
                    for j in range(k, due_n):
                        due = start + j / rate
                        lines.append(self._emit(ph, t, due))
                        self.late_s.append(t - due)
                    os.write(fd, "".join(lines).encode())
                    k = due_n
            finally:
                os.close(fd)
            rungs.append({"rate": rate, "start": start, "end": start + rung_s,
                          "first": first, "last": len(ph["t"])})
        return {"rungs": rungs}

    def manifest(self) -> dict:
        def b64(a: array) -> str:
            return base64.b64encode(a.tobytes()).decode()

        return {
            "phases": {
                name: {k: b64(v) if isinstance(v, array) else v
                       for k, v in ph.items()}
                for name, ph in self.phases.items()
            },
            "late_s": b64(self.late_s),
        }


def load_manifest(path: str) -> dict:
    """The manifest with every per-message column as a NumPy array."""
    import numpy as np

    def col(b64: str, tc: str):
        return np.frombuffer(base64.b64decode(b64), dtype=np.dtype(tc))

    with open(path) as f:
        m = json.load(f)
    for ph in m["phases"].values():
        for k, tc in _COLUMNS.items():
            ph[k] = col(ph[k], tc)
    m["late_s"] = col(m["late_s"], "d")
    return m


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--root", required=True)
    args = ap.parse_args(argv)
    gen = Generator(args.seed, args.root)
    print(json.dumps({"ready": True}), flush=True)
    for raw in sys.stdin:
        cmd = json.loads(raw)
        op = cmd["op"]
        if op == "stop":
            break
        if op == "prepare":
            out = gen.prepare(cmd["group"], cmd["phase"], cmd["n"])
        elif op == "release":
            out = gen.release(cmd["phase"])
        elif op == "openloop":
            out = gen.openloop(cmd["group"], cmd["phase"], cmd["rungs"])
        else:
            raise ValueError(f"unknown generator command {op!r}")
        print(json.dumps(out), flush=True)
    with open(args.manifest, "w") as f:
        json.dump(gen.manifest(), f)
    print(json.dumps({"stopped": True}), flush=True)


if __name__ == "__main__":
    main()
