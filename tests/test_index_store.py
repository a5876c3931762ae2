"""Persisted-MinHash-index invariants: the parquet-backed query path is
result-identical to the recompute path, the store layout actually
enables pruning, and the version marker rebuilds on any contract
change (a stale index silently served is a wrong-dedup at 100 TB).
"""

from __future__ import annotations

import json
import os
import shutil

import pyspark.sql.functions as F
import pytest

from streaming_amqp_spark.operators import index_store as ixs
from streaming_amqp_spark.operators.dedup import (
    dedup_minhash_lsh,
    minhash_pairs_from,
    shingles_of,
)
from tests.conftest import SF_DIR
from tests.oracle import canon


@pytest.fixture()
def fresh_index(spark):
    path = ixs.minhash_index_path(SF_DIR)
    shutil.rmtree(path, ignore_errors=True)
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _rows(df):
    return canon(df.columns, [tuple(r) for r in df.collect()])


def test_indexed_path_is_result_identical(spark, fresh_index):
    direct = _rows(dedup_minhash_lsh(spark, SF_DIR))
    indexed = _rows(ixs.dedup_minhash_lsh_indexed(spark, SF_DIR))
    assert indexed == direct
    assert len(indexed) > 0  # non-vacuous: the fixture corpus has dups


def test_band_partitioning_prunes_at_the_scan(spark, fresh_index):
    path = ixs.ensure_minhash_index(spark, SF_DIR)
    bands = os.path.join(path, "bands")
    # directory-partitioned layout on disk
    assert any(
        d.startswith("band_idx=") for d in os.listdir(bands)
    ), os.listdir(bands)
    probe = spark.read.parquet(bands).where(F.col("band_idx") == 2)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "band_idx" in plan


def test_marker_caches_and_version_change_rebuilds(spark, fresh_index):
    path = ixs.ensure_minhash_index(spark, SF_DIR)
    marker = os.path.join(path, "_DONE")
    stamp = os.path.getmtime(marker)
    assert ixs.ensure_minhash_index(spark, SF_DIR) == path
    assert os.path.getmtime(marker) == stamp  # served, not rebuilt
    # contract change (version / cap constants) → rebuild
    with open(marker, "w") as fh:
        fh.write("mhidx-v0|src=whatever|cap=99")
    ixs.ensure_minhash_index(spark, SF_DIR)
    assert open(marker).read() == ixs._marker_want(SF_DIR)


def test_append_equals_full_build(spark, fresh_index, tmp_path):
    """The incremental contract: build(A) + append(B) must answer the
    pair query identically to build(A ∪ B) — including bucket stats
    (bsz/hub) that appends CHANGE for existing buckets, which is why
    the store holds raw band rows and derives stats at query time."""
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    half_a = docs.where(F.col("doc_id") % 2 == 0)
    half_b = docs.where(F.col("doc_id") % 2 == 1)

    inc = str(tmp_path / "inc")
    ixs._write_batch(shingles_of(half_a), inc, "overwrite")
    ixs.append_minhash_index(half_b, inc)

    full = ixs.ensure_minhash_index(spark, SF_DIR)
    q_inc = _rows(minhash_pairs_from(*ixs.load_minhash_index(spark, inc)))
    q_full = _rows(minhash_pairs_from(*ixs.load_minhash_index(spark, full)))
    assert q_inc == q_full
    assert len(q_inc) > 0


def test_index_is_distinct_per_sf_dir():
    a = ixs.minhash_index_path("/root/testdata/sf0.001")
    b = ixs.minhash_index_path("/root/testdata/sf0.01")
    assert a != b


def test_empty_corpus_index_roundtrips(spark, tmp_path):
    """A zero-row build (empty corpus / empty bootstrap increment)
    writes no parquet part files; the _SCHEMA sidecar must still make
    the index loadable and the pair query empty — found by the r13
    empty-corpus degenerate sweep."""
    docs = (
        spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        .where(F.lit(False))
    )
    p = str(tmp_path / "emptyix")
    ixs._write_batch(shingles_of(docs), p, "overwrite")
    sh, br = ixs.load_minhash_index(spark, p)
    assert sh.count() == 0 and br.count() == 0
    assert minhash_pairs_from(sh, br).count() == 0
    # and an append onto the empty bootstrap works
    half = spark.read.parquet(
        os.path.join(SF_DIR, "documents.parquet")
    ).limit(50)
    ixs.append_minhash_index(half, p)
    sh2, _ = ixs.load_minhash_index(spark, p)
    assert sh2.count() > 0


def test_ivf_indexed_equals_recompute_and_prunes(spark, tmp_path):
    import shutil as _sh

    from streaming_amqp_spark.operators.similarity import ann_ivf_topk

    _sh.rmtree(ixs.ivf_index_path(SF_DIR), ignore_errors=True)
    direct = _rows(ann_ivf_topk(spark, SF_DIR))
    indexed_df = ixs.ann_ivf_topk_indexed(spark, SF_DIR)
    assert _rows(indexed_df) == direct and len(direct) > 0
    # the IVF promise made literal: probed clusters only, via dynamic
    # partition pruning on the label= directory layout
    plan = indexed_df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:600]
    vecs = os.path.join(ixs.ivf_index_path(SF_DIR), "vectors")
    assert any(d.startswith("label=") for d in os.listdir(vecs))
    _sh.rmtree(ixs.ivf_index_path(SF_DIR), ignore_errors=True)


def test_pq_indexed_equals_recompute(spark, tmp_path):
    import shutil as _sh

    from streaming_amqp_spark.operators.similarity import (
        ann_pq_kmeans_recall,
    )

    _sh.rmtree(ixs.pq_index_path(SF_DIR), ignore_errors=True)
    direct = _rows(ann_pq_kmeans_recall(spark, SF_DIR))
    assert _rows(ixs.ann_pq_kmeans_recall_indexed(spark, SF_DIR)) == direct
    assert len(direct) > 0
    codes = os.path.join(ixs.pq_index_path(SF_DIR), "codes")
    assert any(d.startswith("m=") for d in os.listdir(codes))
    _sh.rmtree(ixs.pq_index_path(SF_DIR), ignore_errors=True)


def test_source_fingerprint_change_rebuilds(spark, tmp_path):
    """ADVICE r13: a corpus regenerated IN PLACE (same path, new data —
    exactly what the sweep tooling does on a synth-version bump) must
    force a rebuild; src-path alone in the marker would serve a stale
    index built from the old data."""
    import shutil as _sh

    src = tmp_path / "sf"
    src.mkdir()
    _sh.copy(
        os.path.join(SF_DIR, "documents.parquet"),
        src / "documents.parquet",
    )
    p1 = ixs.ensure_minhash_index(spark, str(src))
    want1 = open(os.path.join(p1, "_DONE")).read()
    # regenerate the corpus in place: halve it (new size + mtime)
    half = spark.read.parquet(str(src / "documents.parquet")).where(
        F.col("doc_id") % 2 == 0
    )
    pdf = half.toPandas()
    os.unlink(src / "documents.parquet")
    import pyarrow as pa
    import pyarrow.parquet as pq_

    pq_.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        str(src / "documents.parquet"),
    )
    p2 = ixs.ensure_minhash_index(spark, str(src))
    want2 = open(os.path.join(p2, "_DONE")).read()
    assert p1 == p2 and want1 != want2  # same path, REBUILT marker
    sh, _ = ixs.load_minhash_index(spark, p2)
    assert sh.count() == half.count()  # serving the NEW corpus
    _sh.rmtree(p2, ignore_errors=True)


def test_compaction_preserves_results_and_skips_normalization(
    spark, tmp_path
):
    """Verdict r13 #6: a store that accumulated at-least-once replay
    duplicates answers identically after compaction, and post-compact
    loads skip the full-row dropDuplicates shuffle (no Deduplicate in
    the executed plan) until the next append clears the flag."""
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    p = str(tmp_path / "ix")
    ixs._write_batch(shingles_of(docs.where(F.lit(False))), p, "overwrite")
    batch = docs.limit(200)
    ixs.append_minhash_index(batch, p)
    ixs.append_minhash_index(batch, p)  # marker-less replay duplicate
    before = _rows(minhash_pairs_from(*ixs.load_minhash_index(spark, p)))
    assert len(before) > 0
    # pre-compact loads normalize (Deduplicate in the plan)
    sh_pre, _ = ixs._load_raw(spark, p)
    assert "Deduplicate" in sh_pre._jdf.queryExecution().toString()

    ixs.compact_minhash_index(spark, p)
    after = _rows(minhash_pairs_from(*ixs.load_minhash_index(spark, p)))
    assert after == before
    sh_post, bands_post = ixs._load_raw(spark, p)
    for df in (sh_post, bands_post):
        assert "Deduplicate" not in df._jdf.queryExecution().toString()
    # the stored rows themselves are now unique
    assert sh_post.count() == batch.count()
    # the next append re-enables normalization (fail-safe ordering)
    more = docs.where(F.col("doc_id") >= 500).limit(50)
    ixs.append_minhash_index(more, p)
    sh_again, _ = ixs._load_raw(spark, p)
    assert "Deduplicate" in sh_again._jdf.queryExecution().toString()


def test_stat_fingerprint_catches_mtime_preserving_regeneration(tmp_path):
    """ADVICE r14: a corpus restored with identical file sizes AND
    preserved mtimes (cp -p of different content; coarse-mtime
    filesystems) slipped past a (name, size, mtime)-only fingerprint.
    The tail-hash content term must move it."""
    from streaming_amqp_spark import fs

    d = tmp_path / "src"
    d.mkdir()
    f = d / "data.parquet"
    f.write_bytes(b"A" * 4096)
    st = os.stat(f)
    fp1 = fs.stat_fingerprint(str(d))
    assert fs.stat_fingerprint(str(d)) == fp1  # stable
    # same size, same mtime restored, DIFFERENT content
    f.write_bytes(b"B" * 4096)
    os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert os.stat(f).st_mtime_ns == st.st_mtime_ns
    assert fs.stat_fingerprint(str(d)) != fp1
    # a change ONLY in bytes before the 64 KiB tail window is the
    # documented residual blind spot for giant files — but parquet
    # footers live in the tail, and a body change moves the footer's
    # column statistics, so exercise the parquet-realistic case too:
    # single-file form matches the directory walk on relative naming
    assert fs.stat_fingerprint(str(f)) != fp1


def test_compaction_crash_midswap_self_heals(spark, tmp_path, monkeypatch):
    """ADVICE r14: the compaction swap (rmtree final, rename tmp) is
    not atomic — a crash between the two used to leave _DONE matching
    its marker while the dataset directory was GONE, so ensure_* served
    a broken path forever.  The fix drops _DONE before the destructive
    swap: a mid-swap crash now self-heals via rebuild, and a completed
    compaction restores the identical attestation."""
    import shutil as _sh

    src = tmp_path / "sf"
    src.mkdir()
    _sh.copy(
        os.path.join(SF_DIR, "documents.parquet"),
        src / "documents.parquet",
    )
    p = ixs.ensure_minhash_index(spark, str(src))
    before = _rows(minhash_pairs_from(*ixs.load_minhash_index(spark, p)))
    want = open(os.path.join(p, "_DONE")).read()

    real_rename = os.rename

    def boom(a, b):
        if str(a).endswith(".compact"):
            raise RuntimeError("crash mid-swap")
        return real_rename(a, b)

    monkeypatch.setattr(os, "rename", boom)
    with pytest.raises(RuntimeError, match="crash mid-swap"):
        ixs.compact_minhash_index(spark, p)
    monkeypatch.setattr(os, "rename", real_rename)
    # the crash window left the store partially destroyed — but _DONE
    # is gone, so ensure rebuilds instead of serving the broken path
    assert not os.path.exists(os.path.join(p, "_DONE"))
    p2 = ixs.ensure_minhash_index(spark, str(src))
    assert p2 == p
    assert _rows(
        minhash_pairs_from(*ixs.load_minhash_index(spark, p2))
    ) == before
    # a compaction that COMPLETES preserves the attestation verbatim:
    # ensure keeps serving the cache, results unchanged
    ixs.compact_minhash_index(spark, p2)
    assert open(os.path.join(p2, "_DONE")).read() == want
    assert ixs.ensure_minhash_index(spark, str(src)) == p2
    assert _rows(
        minhash_pairs_from(*ixs.load_minhash_index(spark, p2))
    ) == before
    _sh.rmtree(p2, ignore_errors=True)


def test_ivf_append_plus_retrain_equals_full_build(spark, tmp_path):
    """Verdict r13 #4: build(A) + append(B) + retrain ≡ build(A∪B)
    exactly — appends land in their label= partitions, and the cheap
    retrain (one aggregate over the STORED vectors, no corpus pass)
    refreshes the coarse quantizer to what a from-scratch build would
    train."""
    from streaming_amqp_spark.operators.similarity import ivf_topk_from
    from streaming_amqp_spark.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    half_a = emb.where(F.col("vec_id") % 2 == 0)
    half_b = emb.where(F.col("vec_id") % 2 == 1)

    inc = str(tmp_path / "ivf_inc")
    ixs.build_ivf_index_from(half_a, inc)
    ixs.append_ivf_index(half_b, inc)
    # staleness panel: ~100% appended → retrain due
    st = ixs.ivf_index_staleness(spark, inc)
    assert st["retrain_due"] and st["appended_fraction"] > 0.5
    ixs.retrain_ivf_centroids(spark, inc)
    st2 = ixs.ivf_index_staleness(spark, inc)
    assert not st2["retrain_due"] and st2["appended_fraction"] == 0.0

    full = str(tmp_path / "ivf_full")
    ixs.build_ivf_index_from(emb, full)
    q_inc = _rows(ivf_topk_from(*ixs.load_ivf_index(spark, inc)))
    q_full = _rows(ivf_topk_from(*ixs.load_ivf_index(spark, full)))
    assert q_inc == q_full and len(q_inc) > 0
    # appends landed inside the label= partition layout (pruning intact)
    vecs_dir = os.path.join(inc, "vectors")
    assert all(
        d.startswith("label=") or d.startswith("_") or d.startswith(".")
        for d in os.listdir(vecs_dir)
    ), os.listdir(vecs_dir)


def test_ivf_append_without_retrain_serves_frozen_quantizer(
    spark, tmp_path
):
    """The documented staleness contract: between retrains, searches
    run against the LAST-trained centroids (never an error, never a
    half-updated quantizer) while the appended vectors are already
    searchable."""
    from streaming_amqp_spark.tables import load_table
    from tests.oracle import canon as _canon

    emb = load_table(spark, SF_DIR, "embeddings")
    half_a = emb.where(F.col("vec_id") % 2 == 0)
    half_b = emb.where(F.col("vec_id") % 2 == 1)
    p = str(tmp_path / "ivf")
    ixs.build_ivf_index_from(half_a, p)
    cent_before = _rows(ixs.load_ivf_index(spark, p)[1])
    ixs.append_ivf_index(half_b, p)
    vec, cent = ixs.load_ivf_index(spark, p)
    assert _rows(cent) == cent_before  # frozen between retrains
    assert vec.count() == emb.count()  # appended rows searchable


def test_pq_append_encodes_with_stored_codebook(spark, tmp_path):
    """Verdict r13 #4: with the codebook FIXED (trained on the base
    corpus), encoding is per-vector — so build(A) + append(B) holds
    exactly the codes that encoding A∪B under that same codebook
    yields.  (A codebook RETRAIN invalidates every stored code, which
    is why the PQ retrain is build_pq_index — see append_pq_index.)"""
    from streaming_amqp_spark.operators.similarity import pq_codes_long
    from streaming_amqp_spark.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    half_a = emb.where(F.col("vec_id") % 2 == 0)
    half_b = emb.where(F.col("vec_id") % 2 == 1)
    p = str(tmp_path / "pq")
    ixs.build_pq_index_from(half_a, p)
    st0 = ixs.pq_index_staleness(spark, p)
    assert not st0["retrain_due"]
    ixs.append_pq_index(half_b, p)
    cb, codes = ixs.load_pq_index(spark, p)
    want = _rows(pq_codes_long(emb, cb))
    assert _rows(codes) == want and len(want) > 0
    st = ixs.pq_index_staleness(spark, p)
    assert st["retrain_due"] and st["appended_fraction"] > 0.5


def test_empty_corpus_ivf_pq_builds_are_loadable(spark, tmp_path):
    """r14 empty-corpus matrix regression: the staleness counters read
    the stored relations, and on a zero-row build (no part files)
    schema INFERENCE fails — every stored-relation read must go through
    the _SCHEMA sidecar instead."""
    from streaming_amqp_spark.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings").where(F.lit(False))
    ivf = str(tmp_path / "ivf")
    ixs.build_ivf_index_from(emb, ivf)
    vec, cent = ixs.load_ivf_index(spark, ivf)
    assert vec.count() == 0 and cent.count() == 0
    st = ixs.ivf_index_staleness(spark, ivf)
    assert st["base_rows"] == 0 and not st["retrain_due"]
    pq_p = str(tmp_path / "pq")
    ixs.build_pq_index_from(emb, pq_p)
    cb, codes = ixs.load_pq_index(spark, pq_p)
    assert codes.count() == 0
    st = ixs.pq_index_staleness(spark, pq_p)
    assert st["base_rows"] == 0 and not st["retrain_due"]


def _store_names(path):
    """Visible names of a store dir; for each dataset dir, its visible
    entries' name prefixes (``band_idx=``, ``part-``, …)."""
    out = {}
    for name in sorted(os.listdir(path)):
        if name.startswith("."):
            continue  # checksum files of the local FS
        full = os.path.join(path, name)
        out[name] = (
            sorted({
                d.split("=")[0] + "=" if "=" in d else d.split("-")[0]
                for d in os.listdir(full)
                if not d.startswith(".")
            })
            if os.path.isdir(full)
            else None
        )
    return out


def _schema_keys(path):
    meta = json.loads(open(os.path.join(path, "_SCHEMA")).read())
    return [(k, [f["name"] for f in v["fields"]]) for k, v in meta.items()]


def test_store_format_is_pinned(spark, tmp_path):
    """The on-disk contract a store written by an earlier build must keep
    satisfying: file-tree names, ``_SCHEMA`` keys in order, the
    ``_BASE_COUNT`` / ``_COMPACT`` contents and the ``_DONE`` string
    each ``ensure_*`` writes.  Changing any of these strands every
    existing store (served wrongly or silently rebuilt)."""
    from streaming_amqp_spark import fs
    from streaming_amqp_spark.operators.dedup import MAX_BAND_FREQ
    from streaming_amqp_spark.tables import load_table

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    mh = str(tmp_path / "mh")
    ixs._write_batch(shingles_of(docs), mh, "overwrite")
    assert _store_names(mh) == {
        "_COMPACT": None,
        "_SCHEMA": None,
        "bands": ["_SUCCESS", "band_idx="],
        "shingles": ["_SUCCESS", "part"],
    }
    assert _schema_keys(mh) == [
        ("shingles", ["doc_id", "shingles", "n"]),
        ("bands", ["doc_id", "band_idx", "band_hash"]),
    ]
    assert open(os.path.join(mh, "_COMPACT")).read() == "clean"
    ixs.append_minhash_index(docs.limit(10), mh)
    assert not os.path.exists(os.path.join(mh, "_COMPACT"))
    ixs.compact_minhash_index(spark, mh)
    assert open(os.path.join(mh, "_COMPACT")).read() == "compacted"

    emb = load_table(spark, SF_DIR, "embeddings")
    ivf = str(tmp_path / "ivf")
    ixs.build_ivf_index_from(emb, ivf)
    assert _store_names(ivf) == {
        "_BASE_COUNT": None,
        "_SCHEMA": None,
        "centroids": ["_SUCCESS", "part"],
        "vectors": ["_SUCCESS", "label="],
    }
    assert [k for k, _ in _schema_keys(ivf)] == ["centroids", "vectors"]
    assert open(os.path.join(ivf, "_BASE_COUNT")).read() == str(emb.count())

    pq = str(tmp_path / "pq")
    ixs.build_pq_index_from(emb, pq)
    assert _store_names(pq) == {
        "_BASE_COUNT": None,
        "_SCHEMA": None,
        "codebook": ["_SUCCESS", "part"],
        "codes": ["_SUCCESS", "m="],
    }
    assert [k for k, _ in _schema_keys(pq)] == ["codebook", "codes"]
    n_codes = spark.read.parquet(os.path.join(pq, "codes")).count()
    assert open(os.path.join(pq, "_BASE_COUNT")).read() == str(n_codes)

    src = os.path.abspath(SF_DIR)
    fp_docs = fs.stat_fingerprint(os.path.join(src, "documents.parquet"))
    fp_emb = fs.stat_fingerprint(os.path.join(src, "embeddings.parquet"))
    for ensure, want in (
        (
            ixs.ensure_minhash_index,
            f"mhidx-v4|src={src}|fp={fp_docs}|cap={MAX_BAND_FREQ}",
        ),
        (ixs.ensure_ivf_index, f"ivfidx-v2|src={src}|fp={fp_emb}"),
        (ixs.ensure_pq_index, f"pqidx-v2|src={src}|fp={fp_emb}"),
    ):
        path = ensure(spark, SF_DIR)
        assert open(os.path.join(path, "_DONE")).read() == want
