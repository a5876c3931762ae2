"""The batch_curation workload: one client in a closed loop runs a fixed
query mix over the tables of ``datagen`` and collects each result.

The mix pairs queries that build session caches, indexes and
``localCheckpoint`` artifacts with plain relational and event plans that
use no cache.  No ``*_indexed`` query is included: ``index_store``
persists outside the run directory.

A run, after set-up: ``clear_shared_cache`` and one cold pass in the fixed
order, the first pass of a fresh JVM, so every cache, index and checkpoint
build and every one-time start-up cost is paid once, as in a user's first
session; then one untimed warm-up pass in the same order (the JIT is still
compiling after the cold pass) and ``WARM_PASSES`` timed warm passes, each
in an order drawn from the seed (``warm_total_s`` is their median).
Every collected result is hashed order-insensitively and compared with
the DuckDB oracle's hash stored in ``oracle_hashes.json``.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import time

from harness import HERE

MIX = (
    # cache, index and checkpoint builds
    "dedup_minhash_lsh",
    "curate_documents",
    "dedup_ngram_jaccard",
    "ann_ivf_topk",
    "text_doc_frequency",
    # plans that use no cache
    "q1_pricing_summary",
    "events_sessionize_30m",
    "agg_percentiles",
)
WARM_PASSES = 3
HASHES = os.path.join(HERE, "oracle_hashes.json")


def result_hash(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result, over the canonical form the
    repository's oracle comparison uses (``tests.oracle.canon``)."""
    from tests.oracle import canon

    h = hashlib.sha256(repr(sorted(cols)).encode())
    for row in canon(cols, rows):
        h.update(repr(row).encode())
    return f"{len(rows)}:{h.hexdigest()[:32]}"


def load_hashes() -> dict[str, str]:
    with open(HASHES) as f:
        return json.load(f)["hashes"]


class CurationWorkload:
    def __init__(self, spark, data_dir: str, seed: int):
        import __spark_entry__

        self.spark = spark
        self.data_dir = data_dir
        self.seed = seed
        self.queries = __spark_entry__.queries()
        self.expected = load_hashes()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run_query(self, name: str, tag: str) -> tuple[float, float]:
        """(build seconds, execute-and-collect seconds) of one query."""
        sc = self.spark.sparkContext
        sc.setJobDescription(f"{tag}:{name}")
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            df = self.queries[name](self.spark, self.data_dir)
            t1 = time.perf_counter()
            rows = [tuple(r) for r in df.collect()]
            t2 = time.perf_counter()
        except Exception as e:  # a failed query counts, the run goes on
            self.failed += 1
            self.errors.append(f"{name}: {str(e)[:200]}")
            return 0.0, 0.0
        finally:
            sc.setJobDescription(None)
        if result_hash(df.columns, rows) != self.expected.get(name):
            self.failed += 1
            self.errors.append(f"{name}: result differs from the oracle")
        return t1 - t0, t2 - t1

    def run_pass(self, order, tag: str) -> dict[str, tuple[float, float]]:
        return {name: self.run_query(name, tag) for name in order}

    def measure(self, on_cold_done=None) -> dict:
        from streaming_amqp_spark.tables import clear_shared_cache

        clear_shared_cache(self.spark)
        t0 = time.perf_counter()
        cold = self.run_pass(MIX, "cold")
        cold_total = time.perf_counter() - t0
        if on_cold_done is not None:
            on_cold_done()
        self.run_pass(MIX, "warmup")
        rng = random.Random(self.seed)
        warm: list[dict[str, tuple[float, float]]] = []
        totals: list[float] = []
        for k in range(WARM_PASSES):
            order = list(MIX)
            rng.shuffle(order)
            t = time.perf_counter()
            warm.append(self.run_pass(order, f"warm{k}"))
            totals.append(time.perf_counter() - t)
        return {"cold": cold, "cold_total": cold_total, "warm": warm,
                "warm_totals": totals}


def end_to_end(result: dict) -> dict[str, float]:
    """End-to-end metrics of a measured curation run.  The closed loop's
    unit of work is one query.  With one client the sustainable rate
    equals the closed-loop rate."""
    from harness import median

    warm_total = median(result["warm_totals"])
    rate = len(MIX) / warm_total
    return {
        "cold_total_s": result["cold_total"],
        "warm_total_s": warm_total,
        "drain_msgs_per_s": rate,
        "sustained_msgs_per_s": rate,
    }
