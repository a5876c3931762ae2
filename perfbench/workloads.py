"""Runs one workload end to end and assembles its result line."""

from __future__ import annotations

import os

import harness
from harness import RunDir, median

END_TO_END = ("setup_s", "drain_msgs_per_s", "sustained_msgs_per_s",
              "cold_total_s", "warm_total_s", "peak_rss_mb")


class Session:
    """What set-up produces: the Spark session with the AMQP source
    registered, and the generator process (ingest_window) or the query
    registry (batch_curation).  ``setup_s`` runs from process start."""

    def __init__(self, workload: str, seed: int, run: RunDir):
        from streaming_amqp_spark.sources.amqp import register_amqp_source

        self.workload = workload
        self.run = run
        self.gen = None
        if workload == "ingest_window":
            import streams

            self.gen = harness.LoadGenerator(
                seed, run.sub("spool"), os.path.join(run.path, "manifest.json"))
            # the first backlogs are written while the JVM starts
            streams.prepare_backlogs(self.gen, "main")
        self.spark = harness.build_session(run, f"perfbench-{workload}")
        register_amqp_source(self.spark)
        if workload == "batch_curation":
            import __spark_entry__

            __spark_entry__.queries()
        self.setup_s = harness.process_age()

    def restart_traced(self) -> str:
        """Replace the SparkContext (same JVM) by one that writes an event
        log; returns the log directory."""
        from streaming_amqp_spark.sources.amqp import register_amqp_source

        log_dir = self.run.sub("eventlog")
        self.spark.stop()
        self.spark = harness.build_session(
            self.run, f"perfbench-{self.workload}", log_dir)
        register_amqp_source(self.spark)
        return log_dir

    def close(self) -> dict | None:
        manifest = self.gen.stop() if self.gen is not None else None
        harness.stop_session(self.spark)
        return manifest


def run(args, run_dir: RunDir) -> dict:
    # memory is sampled while the run works, not while it tears down
    with harness.TreeRssSampler() as rss:
        sess = Session(args.workload, args.seed, run_dir)
        try:
            if args.workload == "batch_curation":
                out = _curation(args, run_dir, sess)
            else:
                out = _stream(args, run_dir, sess)
        except BaseException:
            sess.close()
            raise
    manifest = sess.close()
    harness.log("closed")
    if args.workload == "ingest_window":
        out = _stream_finish(args, out, manifest)
    harness.log("analysed")
    attempted, failed = out["attempted"], out["failed"]
    if args.trace:
        metrics = out["layers"]
        metrics["failed_frac"] = failed / attempted if attempted else 0.0
    else:
        metrics = {k: v for k, v in out["e2e"].items() if k in END_TO_END}
        metrics["setup_s"] = sess.setup_s
        metrics["peak_rss_mb"] = rss.peak_mb
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(metrics.items())},
    }


# -- streaming -----------------------------------------------------------

def _stream(args, run_dir: RunDir, sess: Session) -> dict:
    import streams

    w = streams.StreamWorkload(sess.spark, run_dir, sess.gen, args.seconds)
    harness.log("set up")
    # a traced run measures the ladder only in its traced pass
    timelines = [w.measure("main", ladder=not args.trace)]
    harness.log("measured")
    log_dir = None
    if args.trace:
        streams.prepare_backlogs(sess.gen, "traced")
        log_dir = sess.restart_traced()
        w.spark = sess.spark
        timelines.append(w.measure("traced"))
    return {"w": w, "timelines": timelines, "log_dir": log_dir}


def _stream_finish(args, out: dict, manifest: dict) -> dict:
    import streams
    import tracing

    w = out["w"]
    attempted = failed = 0
    analysed = []
    for tl in out["timelines"]:
        g = tl["group"]
        a = streams.analyse(tl, manifest)
        analysed.append(a)
        n, bad = streams.check_ingest(w.windows[g], manifest, g,
                                      a["processed"], a["final_seq"])
        attempted += n
        failed += bad
    res = {"attempted": attempted, "failed": failed, "e2e": analysed[0]["metrics"]}
    if not args.trace:
        return res
    base, traced = analysed
    tl = out["timelines"][1]
    layers = zero_layers()
    layers.update(streams.summarize_engine(tl["batches"], traced["backlog"]))
    for q in ("p50", "p95"):
        layers[f"stream.ref_latency_{q}_ms"] = traced["metrics"][f"latency_{q}_ms"]
    rows = tracing.read_event_log(out["log_dir"])
    layers.update(tracing.stage_metrics(tracing.sum_rows(rows.values())))
    spool = w.spool("traced")
    # the scale-out reader and the sink are timed on the same spool
    probes = [tracing.time_simple_reader(spool, streams.MAX_PER_BATCH),
              tracing.time_scaleout(spool, 2_000_000, w.run.sub("writer-probe"))]
    dropped = [int(p.pop("sources.malformed_dropped")) for p in probes]
    read_n = probes[0].pop("read_n")
    for p in probes:
        layers.update(p)
    layers["sources.malformed_dropped"] = dropped[0]
    planted = streams.planted_malformed(manifest, "traced")
    res["failed"] += sum(abs(d - planted) for d in dropped)
    # the direct read of the spool yields every valid message once
    res["failed"] += abs(read_n - streams.valid_count(manifest, "traced"))
    layers["gen.late_ms_p95"] = streams.gen_late_ms_p95(manifest)
    b, t = base["metrics"]["warm_total_s"], traced["metrics"]["warm_total_s"]
    layers["trace.overhead_frac"] = (t - b) / b
    res["layers"] = layers
    return res


# -- batch ---------------------------------------------------------------

def _curation(args, run_dir: RunDir, sess: Session) -> dict:
    import curation
    import datagen
    import tracing

    data = datagen.write_tables(run_dir.sub("data"))
    w = curation.CurationWorkload(sess.spark, data, args.seed)
    harness.log("set up")
    base = w.measure()
    harness.log(f"measured: cold {base['cold_total']:.2f}s, warm {base['warm_totals']}")
    for err in w.errors:
        harness.log(f"failed: {err}")
    res = {"e2e": curation.end_to_end(base)}
    if args.trace:
        log_dir = sess.restart_traced()
        w.spark = sess.spark
        probe = tracing.CacheProbe()
        probe.install()
        cached = []
        try:
            traced = w.measure(on_cold_done=lambda: cached.append(
                tracing.cached_mb(sess.spark)))
        finally:
            probe.uninstall()
        sess.spark.stop()  # flushes the event log
        res["layers"] = _curation_layers(w, base, traced, probe, cached[0],
                                         tracing.read_event_log(log_dir))
    res["attempted"], res["failed"] = w.attempted, w.failed
    return res


def _module_of(w, name: str) -> str:
    mod = w.queries[name].__module__
    return "operators" if ".operators." in mod else "plans"


def _curation_layers(w, base, traced, probe, cached_mb, rows) -> dict:
    import curation
    import tracing

    layers = zero_layers()
    last = f"warm{len(traced['warm']) - 1}:"
    warm_rows = {d[len(last):]: r for d, r in rows.items() if d.startswith(last)}
    cold_rows = {d[5:]: r for d, r in rows.items() if d.startswith("cold:")}
    layers.update(tracing.stage_metrics(tracing.sum_rows(warm_rows.values())))
    layers["stage.cold_cpu_ms"] = tracing.sum_rows(cold_rows.values())["cpu_ms"]
    for name in curation.MIX:
        build = traced["cold"][name][0]
        exec_s = median([p[name][1] for p in traced["warm"]])
        cpu = warm_rows.get(name, {}).get("cpu_ms", 0.0)
        layers[f"query.{name}.build_s"] = build
        layers[f"query.{name}.exec_s"] = exec_s
        layers[f"query.{name}.cpu_ms"] = cpu
        mod = _module_of(w, name)
        layers[f"{mod}.build_s"] += build
        layers[f"{mod}.exec_s"] += exec_s
        layers[f"{mod}.cpu_ms"] += cpu
        layers["query.build_s"] += build
        layers["query.exec_s"] += exec_s
    layers["tables.cache_builds"] = probe.builds
    layers["tables.cache_hits"] = probe.hits
    layers["tables.cache_evictions"] = probe.evictions
    layers["tables.cached_mb"] = cached_mb
    layers["trace.overhead_frac"] = (
        median(traced["warm_totals"]) / median(base["warm_totals"]) - 1.0)
    return layers


# -- metric names and units ------------------------------------------------

_UNITS = {
    "setup_s": "s", "drain_msgs_per_s": "msg/s", "sustained_msgs_per_s": "msg/s",
    "cold_total_s": "s",
    "warm_total_s": "s", "peak_rss_mb": "MB",
    "sources.fetch_us_per_msg": "us", "sources.read_self_us_per_msg": "us",
    "sources.scaleout_read_us_per_msg": "us", "sources.latest_offset_ms": "ms",
    "sources.write_us_per_msg": "us", "sources.malformed_dropped": "count",
    "engine.latest_offset_ms": "ms", "engine.add_batch_ms": "ms",
    "engine.wal_commit_ms": "ms", "engine.commit_offsets_ms": "ms",
    "engine.query_planning_ms": "ms", "engine.trigger_ms": "ms",
    "stream.ref_latency_p50_ms": "ms", "stream.ref_latency_p95_ms": "ms",
    "engine.rows_per_batch": "count", "engine.backlog_msgs": "count",
    "state.rows_total": "count", "state.memory_bytes": "bytes",
    "state.commit_ms": "ms",
    "query.build_s": "s", "query.exec_s": "s",
    "stage.cpu_ms": "ms", "stage.run_ms": "ms", "stage.shuffle_read_mb": "MB",
    "stage.shuffle_write_mb": "MB", "stage.spill_mb": "MB", "stage.count": "count",
    "task.count": "count", "stage.cold_cpu_ms": "ms",
    "operators.build_s": "s", "operators.exec_s": "s", "operators.cpu_ms": "ms",
    "plans.build_s": "s", "plans.exec_s": "s", "plans.cpu_ms": "ms",
    "tables.cache_builds": "count", "tables.cache_hits": "count",
    "tables.cache_evictions": "count", "tables.cached_mb": "MB",
    "gen.late_ms_p95": "ms", "trace.overhead_frac": "ratio", "failed_frac": "ratio",
}


def unit_of(name: str) -> str:
    if name in _UNITS:
        return _UNITS[name]
    return {"build_s": "s", "exec_s": "s", "cpu_ms": "ms"}[name.rsplit(".", 1)[1]]


def per_layer_names() -> list[str]:
    import curation

    fixed = [k for k in _UNITS if k not in END_TO_END]
    per_query = [f"query.{q}.{m}" for q in curation.MIX
                 for m in ("build_s", "exec_s", "cpu_ms")]
    return fixed + per_query


def zero_layers() -> dict[str, float]:
    """Every per-layer metric at 0: a layer a workload does not exercise
    did no work in it."""
    return dict.fromkeys(per_layer_names(), 0.0)

