"""Shared plumbing for the benchmark: the per-run work directory, the Spark
session sized to the host, the load-generator process, process-tree memory
sampling and teardown that waits for every started process to end."""

from __future__ import annotations

import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

SPARK_CORES = 3  # plus the one-thread generator: 4 = this host's nproc
DRIVER_MEMORY = "4g"
SHUFFLE_PARTITIONS = 6


def log(msg: str) -> None:
    """Progress line on stderr (stdout carries only the result)."""
    print(f"perfbench [{process_age():7.2f}s] {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q: float) -> float:
    """Nearest-rank quantile (0 < q <= 1) of a non-empty sequence."""
    s = sorted(xs)
    return s[min(len(s), max(1, math.ceil(q * len(s)))) - 1]


class RunDir:
    """A per-run scratch directory inside the checkout; spools,
    checkpoints, Spark local dirs, temp files and event logs live here and
    are removed when the run ends."""

    def __init__(self, tag: str):
        os.makedirs(WORK, exist_ok=True)
        self.path = os.path.join(WORK, f"run-{tag}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)

    def sub(self, *names: str) -> str:
        p = os.path.join(self.path, *names)
        os.makedirs(p, exist_ok=True)
        return p

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def configure_env(run: RunDir) -> None:
    """Environment for the driver JVM and Spark's Python workers: the
    program on PYTHONPATH (the workers import the data source by module
    path), UTC wall clock, and every temp/local dir inside the run dir."""
    tmp = run.sub("tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = run.sub("spark-local")
    import tempfile

    tempfile.tempdir = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def build_session(run: RunDir, app: str, event_log_dir: str | None = None):
    from streaming_amqp_spark.session import get_spark

    confs = {
        # set here, not through the program's environment default, which
        # is read when the program is first imported
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.shuffle.partitions": str(SHUFFLE_PARTITIONS),
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
        "spark.sql.warehouse.dir": run.sub("warehouse"),
        "spark.local.dir": run.sub("spark-local"),
        # the heap is committed and touched up front, so the process tree's
        # resident size does not depend on when the collector grows it
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={run.sub('tmp')} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"),
    }
    if event_log_dir is not None:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app, master=f"local[{SPARK_CORES}]", extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the SparkContext and the driver JVM, and wait until the JVM and
    the Python workers it started have ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    jvm_tree = descendants(proc.pid) if proc is not None else []
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    _wait_gone(jvm_tree)


def _wait_gone(pids: list[int], timeout: float = 15.0) -> None:
    """Wait for processes that are not our children (so cannot be
    waited on) to end; kill them if they outlive ``timeout``."""
    deadline = time.time() + timeout
    while pids and time.time() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


class LoadGenerator:
    """Handle on the generator process (``gen.py``)."""

    def __init__(self, seed: int, root: str, manifest: str):
        self.manifest = manifest
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(seed),
             "--manifest", manifest, "--root", root],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self._unanswered = 0
        ready = json.loads(self.proc.stdout.readline())
        if not ready.get("ready"):
            raise RuntimeError("load generator failed to start")

    def post(self, cmd: dict) -> None:
        """Send a command without waiting for its reply."""
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()
        self._unanswered += 1

    def _reply(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("load generator exited early")
        self._unanswered -= 1
        return json.loads(line)

    def call(self, cmd: dict) -> dict:
        """Send a command and return its reply (after the replies of any
        commands posted before it)."""
        self.post(cmd)
        while self._unanswered > 1:
            self._reply()
        return self._reply()

    def stop(self) -> dict:
        """Stop the generator and return its manifest."""
        if self.proc.poll() is None:
            self.post({"op": "stop"})
            self.proc.stdin.close()
            self.proc.stdout.read()
            self.proc.wait(timeout=60)
        import gen

        return gen.load_manifest(self.manifest)

    def kill(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    pid = os.getpid() if pid is None else pid
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _mem_kb(pid: int) -> int:
    """Resident memory of one process.  For Python processes, the
    proportional set size: pages a forked Spark Python worker still shares
    with its parent are split among them, so a sum over processes counts
    each page once.  For the JVM, which shares none, the resident set size
    from ``statm``, a constant-time read: ``smaps_rollup`` would walk the
    page tables of its multi-GB heap under its memory-map lock, about 50 ms
    a sample that stalls the program being measured."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            java = f.read().strip() == "java"
        if java:
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * _PAGE_KB
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (OSError, IndexError, ValueError):
        pass
    return 0


class TreeRssSampler:
    """Resident memory (``_mem_kb``) of this process and all its
    descendants (the driver Python, the JVM, Spark's Python workers and the
    generator), summed and sampled every ``interval`` seconds on a
    background thread (a sample costs some 10-30 ms of CPU).  The peak is
    the 95th percentile of the samples: memory held for at least a
    twentieth of the run."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.samples_kb: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.samples_kb.append(sum(_mem_kb(p) for p in [me, *descendants(me)]))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return quantile(self.samples_kb, 0.95) / 1024.0


def reap_descendants(timeout: float = 20.0) -> None:
    """Wait for every process this run started to end; kill stragglers."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        left = descendants()
        if not left:
            return
        time.sleep(0.1)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.time() + 5
    while descendants() and time.time() < deadline:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.05)


def process_age() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
