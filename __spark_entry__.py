"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from streaming_amqp_spark.operators import curation as _curation  # noqa: E402
from streaming_amqp_spark.operators import dedup as _dedup  # noqa: E402
from streaming_amqp_spark.operators import index_store as _index_store  # noqa: E402
from streaming_amqp_spark.operators import multimodal as _multimodal  # noqa: E402
from streaming_amqp_spark.operators import pipeline as _pipeline  # noqa: E402
from streaming_amqp_spark.operators import similarity as _similarity  # noqa: E402
from streaming_amqp_spark.operators import textstats as _textstats  # noqa: E402
from streaming_amqp_spark.plans import collect_registries  # noqa: E402
from streaming_amqp_spark.plans import events as _events  # noqa: E402
from streaming_amqp_spark.plans import relational as _relational  # noqa: E402
from streaming_amqp_spark.plans import scalars as _scalars  # noqa: E402
from streaming_amqp_spark.plans import statistics as _statistics  # noqa: E402
from streaming_amqp_spark.plans import tpch_extra as _tpch_extra  # noqa: E402

_MODULES = (
    _textstats,
    _dedup,
    _index_store,
    _similarity,
    _multimodal,
    _pipeline,
    _curation,
    _scalars,
    _events,
    _statistics,
    _relational,
    _tpch_extra,
)

# The driver only checks the first 50 registry entries per round; the list
# rotates per round.  Standing rule (VERDICT r4 #1): any commit that edits a
# query or its oracle must put that name in the window.
# Round-16 window (181 registered total; ledger after r15: zero
# never-attested, zero stale-red, latest-verdict distribution
# r11:39 r12:47 r13:45 r15:50).
# Composition, per the touch-a-query→rotate-it-in rule:
# - the 11 names VERDICT r15 #2 lists as touched-in-r15-but-unrotated
#   (the probe-position hamming, island-window re-key, vocab-growth
#   digit-min, checkpoint family, sweepline, fan-out, doc_attrs sites):
#   dedup_simhash_hamming1, dedup_substring_runs,
#   curate_substring_policy, contamination_fuzzy, text_vocab_growth,
#   events_funnel, rfm_segmentation, orders_backlog_sweepline,
#   q1_pricing_summary, ann_pq_adc, dedup_ngram_jaccard.  Several are
#   ALSO this round's optimization targets (VERDICT r16 asks #3/#4),
#   so their r16 rewrites get driver attestation too.
# - all 39 names whose latest verdict is r11 — the oldest evidence
#   cohort, taken whole (`tools/freshness.py --suggest`); includes
#   profile_table, this round's #5 target.
# events_funnel sits in BOTH groups (r15-touched with an r11 latest
# verdict), so the union is 49; agg_cube_lineitem (oldest r12 name,
# alphabetical) fills the last slot.  Any additional query touched this
# round swaps in for the cheapest-risk fill at change time.
# r16 swaps: the _posting_pair_stats rework (sizes cache + id1-keyed
# pair exchange) also changes dedup_containment and dedup_cross_source
# (dedup_minhash_recall and dedup_ngram_jaccard were already in), so
# they displace window_rank_variants and unpivot_order_measures — the
# two untouched r11 fills with the simplest single-scan relational
# shapes (their r11 verdicts are green and their code is unchanged
# since).  agg_percentiles (group-key fan-out, r16) displaces
# scalar_date_funcs on the same rule.
# One-product-quantizer swaps: the fixed PQ codebook now encodes
# through the trained path's encoder, query table and ADC, and one
# recall fold serves every ANN panel, so ann_two_stage_recall,
# ann_pq_recall, ann_ivf_recall, ann_ivf_kmeans_recall,
# ann_pq_kmeans_codebook and ann_pq_kmeans_recall_indexed (which reads
# pq_kmeans_recall_from) displace scalar_array_funcs,
# scalar_conditional_funcs, scalar_string_funcs, multimodal_meta,
# multimodal_resize and multimodal_frame_sample — untouched names whose
# latest verdict (r16, green) is the freshest in the ledger
# (`tools/freshness.py`).
_FIRST_50 = (
    # r15-touched, unrotated then (VERDICT r15 #2) — several re-touched
    # this round
    "dedup_simhash_hamming1", "dedup_substring_runs",
    "curate_substring_policy", "contamination_fuzzy", "text_vocab_growth",
    "events_funnel", "rfm_segmentation", "orders_backlog_sweepline",
    "q1_pricing_summary", "ann_pq_adc", "dedup_ngram_jaccard",
    # r11-stale (latest verdict is r11) at r16
    "dedup_chunk_cdc", "dedup_minhash_recall", "events_sessionize_30m",
    "knn_cosine_topk", "multimodal_decode_features",
    "pack_docs_nextfit", "pii_mask_events", "profile_table",
    "text_bigram_counts", "text_chunk_sliding",
    "text_doc_frequency", "text_encode_tokens", "text_fingerprint",
    "text_lang_id", "text_quality_score", "text_simhash",
    "text_token_stats", "text_winnowing_fingerprints",
    # r12 fill (oldest-first, alphabetical)
    "agg_cube_lineitem",
    # r16-touched (posting/pair machinery rework; percentile fan-out)
    "dedup_containment", "dedup_cross_source", "agg_percentiles",
    # single-query session caches moved to per-query checkpoints
    "events_mad_anomaly", "events_interval_join_binned",
    "streaming_cms_topk_twin", "text_domain_divergence",
    "mixture_sqrt_temperature", "ann_pq_kmeans_recall",
    # guard moved into fan_out (narrow-scan repartition only)
    "basket_brand_pairs", "brand_graph_pagerank", "text_repetition_stats",
    "contamination_check", "curate_documents",
    # one product quantizer; one recall fold
    "ann_two_stage_recall", "ann_pq_recall", "ann_ivf_recall",
    "ann_ivf_kmeans_recall", "ann_pq_kmeans_codebook",
    "ann_pq_kmeans_recall_indexed",
)


def _ordered(mapping: dict, strict: bool = False) -> dict:
    """_FIRST_50 entries first (in that order), everything else after in
    registry order, so the driver's first-50 window checks exactly the
    queries that still lack a driver verdict.

    Loud-failure guards (ADVICE r3): with ``strict`` (the full query
    registry), a rename/removal must not silently shift the verification
    window.  The oracle mapping is non-strict — rows-only queries
    legitimately have no oracle entry.
    """
    assert len(_FIRST_50) == 50, f"_FIRST_50 has {len(_FIRST_50)} entries"
    assert len(set(_FIRST_50)) == 50, "_FIRST_50 contains duplicates"
    if strict:
        missing = [k for k in _FIRST_50 if k not in mapping]
        assert not missing, f"_FIRST_50 names absent from registry: {missing}"
    head = {k: mapping[k] for k in _FIRST_50 if k in mapping}
    tail = {k: v for k, v in mapping.items() if k not in head}
    return {**head, **tail}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the reference's canonical
    'max per 5-second window' (AMQPTemperature.scala:94-99) run through the
    AMQP envelope path."""
    from streaming_amqp_spark.plans.events import events_window_5s_max

    return events_window_5s_max(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    qs, _ = collect_registries(*_MODULES)
    return _ordered(qs, strict=True)


def oracle_sql() -> dict[str, str]:
    _, oracles = collect_registries(*_MODULES)
    return _ordered(oracles)
