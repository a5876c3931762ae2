"""Deduplication operators over ``documents``: exact, n-gram Jaccard,
MinHash+LSH, SimHash bucketing.

Scale design (the part that matters at 100 TB):
- Exact dedup hashes the text once and shuffles 16-byte keys, not bodies.
- Jaccard runs over shingle posting lists (explode → one groupBy shingle →
  in-list pair expansion), never an O(n²) cross join; hot shingles are
  frequency-capped (see ``max_shingle_freq``), bounding any single
  shingle's pair fan-out.
- MinHash-LSH shuffles only (band_index, band_hash) pairs; candidate pairs
  are then verified exactly.  Signature = 16 seeded md5 min-hashes, 4 bands
  of 4 → ≥ ~97% recall at jaccard 0.8 (1-(1-s^4)^4), exact precision after
  verification.
- All hashing is md5 so the DuckDB oracle reproduces results bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_amqp_spark.functions.text import (
    lsh_bands,
    minhash_signature,
    shingles,
    tokens,
)
from streaming_amqp_spark.tables import fan_out, load_table, shared_cache

JACCARD_THRESHOLD = 0.8

# DuckDB CTE producing (doc_id, distinct 3-word shingles) — shared prefix of
# the jaccard/minhash oracles; mirrors functions.text.shingles exactly.
_SHINGLE_CTE = """
toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= 3
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(t) - 1),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
  FROM toks
),
ex AS (
  SELECT doc_id, unnest(shingles) AS s FROM sh
),
sizes AS (
  SELECT doc_id, len(shingles) AS n FROM sh
)
"""


def shingles_of(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles, n) of any (doc_id, text, ...) relation — the
    single shingle-space definition, shared by the per-sf loaders and
    the incremental index append path."""
    return (
        docs.where(F.size(tokens()) >= 3)
        .select("doc_id", shingles().alias("shingles"))
        .withColumn("n", F.size("shingles"))
    )


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shingles_of(
        fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    )


def _shared_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cached shingle index, one copy per (session, sf_dir) — every
    dedup-family query that needs it reuses the same InMemoryRelation
    instead of pinning a fresh one per invocation."""
    return shared_cache(
        spark, ("doc_shingles", sf_dir), lambda: _doc_shingles(spark, sf_dir)
    )


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content hash, keep the lowest doc_id as the
    canonical copy, count members.  (dropDuplicates == the n_copies=1 slice.)"""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").alias("kept_doc_id"),
        F.count("*").alias("n_copies"),
    )


_EXACT_SQL = """
SELECT md5(text) AS content_hash,
       min(doc_id) AS kept_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""


# Hot-shingle document-frequency cap: a shingle appearing in more than this
# many documents is dropped from the inverted index before the self-join
# (its candidate-pair contribution is df², so one boilerplate shingle in a
# million docs would otherwise re-introduce the quadratic blowup).  Jaccard
# is computed over the capped shingle space, so the oracle mirrors the cap.
# 256 never binds on the driver's corpora (max observed df: 25 at sf0.1)
# but bounds any single shingle's join fan-out at 256² pairs at any scale.
MAX_SHINGLE_FREQ = 256


def dedup_ngram_jaccard(
    spark: SparkSession,
    sf_dir: str,
    max_shingle_freq: int | None = MAX_SHINGLE_FREQ,
    id_cap: int | None = None,
    doc_attrs: DataFrame | None = None,
) -> DataFrame:
    """Exact near-dup pairs: 3-word-shingle Jaccard ≥ 0.8 via posting
    lists (candidates = pairs sharing ≥1 shingle).  ``id_cap`` restricts
    the index to doc_id < cap before pair expansion — used by the recall
    measurement so its exact truth side stays a fixed-size sample at any
    corpus scale.

    Plan shape (one shuffle of the inverted index, not three): group the
    exploded index once by shingle into a posting list; the
    ``max_shingle_freq`` cap is then a free ``size(ids) <= cap`` filter
    (no separate hot-set aggregation or anti-join), per-doc sizes in the
    capped space re-aggregate the surviving lists, and candidate pairs
    explode each list's (i < j) combinations — bounded at cap² rows per
    shingle, and df=1 shingles (most of the index) never enter the pair
    stage at all.  The posting table is materialized once because both
    the sizes and pairs branches consume it (see ``_posting_pair_stats``).

    ``doc_attrs`` (doc-grain ``(doc_id, attr...)``) rides the sizes
    joins: each attr comes back suffixed ``1``/``2`` per pair side — a
    consumer that needs per-doc labels gets them WITHOUT re-joining the
    pair set to the corpus (r15: dedup_cross_source's two pair-grain
    label shuffles fold into the doc-grain sizes lookup)."""
    stats = _posting_pair_stats(spark, sf_dir, max_shingle_freq, id_cap, doc_attrs)
    jac = F.col("inter").cast("double") / (
        F.col("n1") + F.col("n2") - F.col("inter")
    )
    keep = ["id1", "id2", "inter", "jaccard"] + [
        c for c in stats.columns if c not in ("id1", "id2", "inter", "n1", "n2")
    ]
    return (
        stats.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select(*keep)
    )


def _posting_pair_stats(
    spark: SparkSession,
    sf_dir: str,
    max_shingle_freq: int | None = MAX_SHINGLE_FREQ,
    id_cap: int | None = None,
    doc_attrs: DataFrame | None = None,
) -> DataFrame:
    """Shared pair machinery behind Jaccard and containment dedup:
    (id1, id2, inter, n1, n2) for every doc pair sharing ≥1 surviving
    shingle.  One shuffle builds the posting lists; the pair expansion
    is bounded at max_shingle_freq² rows per shingle.

    The posting index, the doc-grain sizes and the aggregated candidate
    pairs are session artifacts of the corpus: jaccard, containment and
    cross_source all read them (``doc_attrs`` only decorates the sizes
    side).  An ``id_cap`` sample (the recall truth side) is read by one
    query, so its posting and sizes are materialized once per query.

    ``doc_attrs`` joins doc-grain attributes onto the sizes relation —
    the aggregate's hash(doc_id) output partitioning is reused, so only
    the attr side shuffles (doc-grain, never the pair set); every doc_id
    in sizes exists in the corpus, so the inner lookup drops nothing.
    Attr columns surface suffixed ``1``/``2`` alongside n1/n2."""
    sh = _doc_shingles(spark, sf_dir)
    if id_cap is not None:
        sh = sh.where(F.col("doc_id") < id_cap)
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    # no sort needed: the (x > id1) expansion below enumerates each
    # unordered pair exactly once whatever the list order
    def _build_posting() -> DataFrame:
        p = ex.groupBy("s").agg(F.collect_list("doc_id").alias("ids"))
        if max_shingle_freq is not None:
            p = p.where(F.size("ids") <= max_shingle_freq)
        return p

    # the doc-grain sizes aggregate is referenced by BOTH pair sides (s1
    # and s2 below); without reuse the posting explode + groupBy(doc_id)
    # + its exchange would run twice per query
    def _build_sizes(posting: DataFrame) -> DataFrame:
        return (
            posting.select(F.explode("ids").alias("doc_id"))
            .groupBy("doc_id")
            .agg(F.count("*").alias("n"))
        )

    # r16 (guide §2.4 share one exchange): the pair aggregate used to
    # exchange on (id1, id2) and the s1 join then re-exchanged the
    # aggregated pairs on id1.  hash(id1) satisfies the aggregate's
    # clustering requirement too (subset rule), so ONE explicit
    # repartition on id1 serves both — the trade is that raw pair rows
    # cross the exchange without map-side combine, and that is cheap
    # here by measurement: raw/combined = 1.12 at sf0.1 and 1.22 at the
    # synthesized sf1 (a pair's shingle occurrences scatter across
    # posting partitions, so the partial agg rarely merged anything).
    # Bytes per pair: ~1.2x of (id1, id2) once vs (id1, id2, count)
    # twice — under half, plus one whole stage barrier removed.  Skew
    # note: hash(id1) concentrates a hot doc's pairs, but per-doc pair
    # fan-out is cap-bounded (MAX_SHINGLE_FREQ per shingle) and the
    # id1 < id2 orientation splits a hot doc across both roles.
    def _build_pairs(posting: DataFrame) -> DataFrame:
        return (
            posting.where(F.size("ids") >= 2)
            .select(F.explode("ids").alias("id1"), F.col("ids"))
            .select(
                "id1",
                F.explode(
                    F.filter("ids", lambda x: x > F.col("id1"))
                ).alias("id2"),
            )
            .repartition("id1")
            .groupBy("id1", "id2")
            .agg(F.count("*").alias("inter"))
        )

    if id_cap is None:
        posting = shared_cache(
            spark, ("jaccard_posting", sf_dir, max_shingle_freq), _build_posting
        )
        sizes = shared_cache(
            spark,
            ("jaccard_sizes", sf_dir, max_shingle_freq),
            lambda: _build_sizes(posting),
        )
        pairs = shared_cache(
            spark,
            ("jaccard_pairs", sf_dir, max_shingle_freq),
            lambda: _build_pairs(posting),
        )
    else:
        posting = _build_posting().localCheckpoint(eager=False)
        sizes = _build_sizes(posting).localCheckpoint(eager=False)
        pairs = _build_pairs(posting)
    attrs: list[str] = []
    if doc_attrs is not None:
        attrs = [c for c in doc_attrs.columns if c != "doc_id"]
        # doc-grain ⋈ doc-grain on the aggregate's own hash(doc_id)
        # partitioning: only doc_attrs moves; shuffle-hash pinned for
        # the same r9 estimate-driven-broadcast reason as s1/s2 below.
        # Checkpointed lazily so the s1/s2 re-references below don't run
        # the attr lookup twice (a session artifact never keys on a
        # caller-supplied DataFrame).
        sizes = sizes.join(doc_attrs.hint("shuffle_hash"), "doc_id")
        sizes = sizes.localCheckpoint(eager=False)
    s1 = sizes.select(
        F.col("doc_id").alias("id1"),
        F.col("n").alias("n1"),
        *[F.col(c).alias(f"{c}1") for c in attrs],
    )
    s2 = sizes.select(
        F.col("doc_id").alias("id2"),
        F.col("n").alias("n2"),
        *[F.col(c).alias(f"{c}2") for c in attrs],
    )
    # SHUFFLE_HASH-hint the doc-grain sizes sides (build side of a
    # shuffled hash join).  Without the hint, a FRESH session (shared
    # cache cleared, posting relation not yet materialized) statically
    # under-estimates the double-aggregated PAIRS side and plans
    # BroadcastHashJoin(BuildLeft=pairs): at sf0.1 the candidate-pair
    # set happens to fit, but at ~sf1 the broadcast build is 8.1 GiB —
    # over Spark's hard 8 GiB cap — and at 100 TB it is a guaranteed
    # driver OOM.  Caught by the r9 sf1 determinism sweep (fails only
    # when no prior query materialized the cache, which is why the
    # oracle sweeps — which run containment first — never saw it).
    # Broadcasting sizes instead would ALSO be wrong at scale (one row
    # per document); shuffle-by-id with the small side built per
    # partition is the plan that survives any corpus size.
    return pairs.join(s1.hint("shuffle_hash"), "id1").join(
        s2.hint("shuffle_hash"), "id2"
    )


# Near-superset detection threshold: containment |A∩B| / min(|A|,|B|)
# catches a short doc embedded in a long one (wire copy inside an article),
# which symmetric Jaccard misses — inter/union stays small when |B| ≫ |A|.
CONTAINMENT_THRESHOLD = 0.9


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup pairs: C(A,B) = |A∩B| / min(|A|,|B|) ≥ 0.9
    over the same 3-shingle posting-list index as ``dedup_ngram_jaccard``
    (the cached posting table is shared — adding this measure to a
    pipeline that already runs Jaccard costs only the final projection).
    Emits the symmetric Jaccard alongside so downstream policy can
    distinguish true near-dups from subset dups."""
    stats = _posting_pair_stats(spark, sf_dir)
    containment = F.col("inter").cast("double") / F.least("n1", "n2")
    jac = F.col("inter").cast("double") / (
        F.col("n1") + F.col("n2") - F.col("inter")
    )
    return (
        stats.withColumn("containment", containment)
        .where(F.col("containment") >= CONTAINMENT_THRESHOLD)
        .select("id1", "id2", "inter", "containment", jac.alias("jaccard"))
    )


def _capped_index_cte(id_cap: int | None = None) -> str:
    """Capped-index CTE extension: exi = inverted index (optionally
    restricted to doc_id < id_cap), exf = exi minus hot shingles, csizes =
    per-doc size over surviving shingles (mirrors the Spark plan)."""
    capw = f"WHERE doc_id < {id_cap}" if id_cap is not None else ""
    return f"""
exi AS (
  SELECT doc_id, s FROM ex {capw}
),
hot AS (
  SELECT s FROM exi GROUP BY s HAVING count(*) > {MAX_SHINGLE_FREQ}
),
exf AS (
  SELECT doc_id, s FROM exi WHERE s NOT IN (SELECT s FROM hot)
),
csizes AS (
  SELECT doc_id, count(*) AS n FROM exf GROUP BY doc_id
)
"""


def _jaccard_sql(id_cap: int | None = None) -> str:
    return f"""
WITH {_SHINGLE_CTE},
{_capped_index_cte(id_cap)},
pairs AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
  FROM exf a JOIN exf b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id1, id2, inter,
       CAST(inter AS DOUBLE) / (s1.n + s2.n - inter) AS jaccard
FROM pairs
JOIN csizes s1 ON s1.doc_id = id1
JOIN csizes s2 ON s2.doc_id = id2
WHERE CAST(inter AS DOUBLE) / (s1.n + s2.n - inter) >= {JACCARD_THRESHOLD}
"""


_JACCARD_SQL = _jaccard_sql()

_CONTAINMENT_SQL = f"""
WITH {_SHINGLE_CTE},
{_capped_index_cte()},
pairs AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
  FROM exf a JOIN exf b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id1, id2, inter,
       CAST(inter AS DOUBLE) / least(s1.n, s2.n) AS containment,
       CAST(inter AS DOUBLE) / (s1.n + s2.n - inter) AS jaccard
FROM pairs
JOIN csizes s1 ON s1.doc_id = id1
JOIN csizes s2 ON s2.doc_id = id2
WHERE CAST(inter AS DOUBLE) / least(s1.n, s2.n) >= {CONTAINMENT_THRESHOLD}
"""


def band_rows_of(sh: DataFrame, *extra_cols: str) -> DataFrame:
    """(doc_id[, extra…], band_idx, band_hash) LSH band rows of a shingle
    relation — the single definition of the 16-hash / 4×4-band space,
    shared by MinHash dedup and fuzzy contamination so the two can never
    silently diverge on banding parameters."""
    sig = sh.select(
        "doc_id", *extra_cols, *minhash_signature(F.col("shingles"), 16)
    )
    banded = sig.select("doc_id", *extra_cols, *lsh_bands(16, 4))
    return banded.selectExpr(
        "doc_id",
        *extra_cols,
        "stack(4, 0, band0, 1, band1, 2, band2, 3, band3)"
        " AS (band_idx, band_hash)",
    )


# Band-bucket fan-out ceiling (VERDICT r6 #3): a bucket with B members
# yields B(B-1)/2 candidate pairs — unbounded in B, which is what made
# the sf1 slope ride pair expansion (and at 100 TB a single 10^6-member
# boilerplate bucket would mean 5·10^11 verifications).  Buckets larger
# than this do STAR expansion instead of all-pairs: every member links
# to the bucket's min-doc_id hub only (B-1 pairs, linear).  Dropping hot
# buckets outright — the other textbook option — would make the curation
# pipeline KEEP every copy of exactly the most-duplicated content; the
# star keeps those clusters connected for dedup_clusters/keep_best while
# bounding fan-out.  The cost is pair-level recall inside hot buckets
# (quantified by dedup_minhash_recall; 12/67 on the binding test
# corpus).  Cluster-level recall survives whenever the hub verifies
# against the members — always, for buckets that are hot because their
# content is near-identical; it can dip only when DISSIMILAR docs
# band-collide into a hot bucket AND are near-dups of each other but not
# of the hub (they must then re-collide in their own bucket to pair, at
# the usual per-band s^4 odds); at the driver's
# correctness SFs the largest natural bucket holds 4 docs (measured), so
# the cap only engages on genuinely hot buckets.  The literal is
# mirrored into the DuckDB oracle below, same discipline as
# MAX_SHINGLE_FREQ / _capped_index_cte.
MAX_BAND_FREQ = 8


def annotate_band_stats(band_rows: DataFrame) -> DataFrame:
    """Band rows annotated with their bucket's size and hub (min doc_id):
    one map-side-combined aggregate over the band keys plus one equi-join
    back — AQE-skew-splittable, so a pathologically hot bucket never
    concentrates raw rows in the aggregate.  Stats are always computed
    over the rows GIVEN, never persisted: an incrementally appended
    batch changes the bsz/hub of buckets its docs land in, so stored
    stats would go stale on the first append (index_store.py)."""
    stats = band_rows.groupBy("band_idx", "band_hash").agg(
        F.count("*").alias("bsz"), F.min("doc_id").alias("hub")
    )
    # bucket stats are LINEAR in corpus (one row per occupied bucket):
    # pin the shuffled hash join so a cold-session static misestimate
    # can never broadcast them (the r9 8 GiB pairs-broadcast class —
    # see _posting_pair_stats)
    return band_rows.join(stats.hint("shuffle_hash"), ["band_idx", "band_hash"])


def _shared_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared band rows annotated with bucket stats, over the
    shared shingle index.  The LSH candidate phase references this
    relation several times (cold self-join twice + the hot star branch);
    without it Catalyst re-derives the minhash/band projection once per
    reference (a measured 4x regression at sf0.1).  It holds 4 narrow
    rows per doc — far smaller than the shingle cache it derives from."""
    return shared_cache(
        spark,
        ("band_stats", sf_dir),
        lambda: annotate_band_stats(
            band_rows_of(_shared_shingles(spark, sf_dir))
        ),
    )


def dedup_minhash_lsh(
    spark: SparkSession,
    sf_dir: str,
    max_band_freq: int | None = MAX_BAND_FREQ,
) -> DataFrame:
    """MinHash-LSH near-dup pairs: 16 min-hashes → 4 bands of 4 → bucket
    join on (band_index, band_hash) → exact Jaccard verification ≥ 0.8.

    Only band keys shuffle in the candidate phase; verification re-joins
    the (small) candidate set against the shingle index.  Buckets above
    MAX_BAND_FREQ contribute hub-star pairs only (see above): the bucket
    stats aggregate is map-side combined so hot keys never concentrate
    raw rows, and the stats→rows equi-join is AQE-skew-splittable.
    """
    return minhash_pairs_from(
        _shared_shingles(spark, sf_dir),
        _shared_band_stats(spark, sf_dir),
        max_band_freq,
    )


def minhash_pairs_from(
    sh: DataFrame,
    br: DataFrame,
    max_band_freq: int | None = MAX_BAND_FREQ,
) -> DataFrame:
    """The LSH pair phase over an already-materialized shingle relation
    ``sh`` (doc_id, shingles, n) and stats-annotated band relation ``br``
    (band_idx, band_hash, doc_id, bsz, hub) — the seam the persisted
    index store (operators/index_store.py) drives with parquet-backed
    relations instead of per-job recomputation."""
    cap = F.lit(max_band_freq) if max_band_freq is not None else F.col("bsz")
    cold = br.where(F.col("bsz") <= cap)
    cold_pairs = (
        cold.alias("a")
        .join(
            # self-join of a linear-in-corpus relation: shuffle by band
            # keys (per-key fan-out is cap-bounded), never broadcast
            cold.alias("b").hint("shuffle_hash"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2")
        )
    )
    # hub = min(doc_id) of the bucket, so hub < doc_id preserves the
    # id1 < id2 invariant every downstream consumer relies on.
    hot_pairs = (
        br.where(F.col("bsz") > cap)
        .where(F.col("doc_id") != F.col("hub"))
        .select(F.col("hub").alias("id1"), F.col("doc_id").alias("id2"))
    )
    cand = cold_pairs.union(hot_pairs).distinct()
    s1 = sh.select(
        F.col("doc_id").alias("id1"),
        F.col("shingles").alias("sh1"),
        F.col("n").alias("n1"),
    )
    s2 = sh.select(
        F.col("doc_id").alias("id2"),
        F.col("shingles").alias("sh2"),
        F.col("n").alias("n2"),
    )
    verified = (
        # candidate pairs and doc-grain shingle arrays are BOTH linear
        # in corpus — shuffle by doc id, never broadcast either side
        cand.join(s1.hint("shuffle_hash"), "id1")
        .join(s2.hint("shuffle_hash"), "id2")
        .withColumn("inter", F.size(F.array_intersect("sh1", "sh2")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("inter")),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    return verified.select("id1", "id2", "jaccard")


# Shared CTE prefix producing the LSH band rows — the single SQL-side
# definition of the 16-hash / 4x4-band space (mirrors band_rows_of);
# consumed by _MINHASH_SQL and the index-stats oracle so the two can
# never diverge on banding parameters.
_BANDS_CTES = f"""{_SHINGLE_CTE},
sig AS (
  SELECT doc_id, j,
         min(md5(CAST(j AS VARCHAR) || ':' || s)) AS h
  FROM ex, UNNEST(range(0, 16)) AS seeds(j)
  GROUP BY doc_id, j
),
bands AS (
  SELECT doc_id, CAST(j // 4 AS INTEGER) AS band_idx,
         md5(string_agg(h, '' ORDER BY j)) AS band_hash
  FROM sig
  GROUP BY doc_id, j // 4
)"""


_MINHASH_SQL = f"""
WITH {_BANDS_CTES},
bstats AS (
  SELECT band_idx, band_hash, count(*) AS bsz, min(doc_id) AS hub
  FROM bands
  GROUP BY band_idx, band_hash
),
cand AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id
  JOIN bstats s ON s.band_idx = a.band_idx AND s.band_hash = a.band_hash
  WHERE s.bsz <= {MAX_BAND_FREQ}
  UNION
  SELECT s.hub AS id1, b.doc_id AS id2
  FROM bands b
  JOIN bstats s ON s.band_idx = b.band_idx AND s.band_hash = b.band_hash
  WHERE s.bsz > {MAX_BAND_FREQ} AND b.doc_id <> s.hub
),
inter AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_inter
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT c.id1, c.id2,
       CAST(i.n_inter AS DOUBLE) / (s1.n + s2.n - i.n_inter) AS jaccard
FROM cand c
JOIN inter i ON i.id1 = c.id1 AND i.id2 = c.id2
JOIN sizes s1 ON s1.doc_id = c.id1
JOIN sizes s2 ON s2.doc_id = c.id2
WHERE CAST(i.n_inter AS DOUBLE) / (s1.n + s2.n - i.n_inter) >= {JACCARD_THRESHOLD}
"""


def dedup_simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash dedup candidates: documents sharing a 16-bit simhash.
    (Hamming-radius-0 bucketing; radius-k would OR together k bit-flipped
    probes of the same table.)"""
    from streaming_amqp_spark.operators.textstats import text_simhash

    sim = text_simhash(spark, sf_dir)
    return (
        sim.groupBy("simhash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("kept_doc_id"))
        .where(F.col("n_docs") > 1)
    )


def _simhash_buckets_oracle() -> str:
    from streaming_amqp_spark.operators.textstats import _simhash_oracle

    return f"""
WITH per_doc AS ({_simhash_oracle()})
SELECT simhash, count(*) AS n_docs, min(doc_id) AS kept_doc_id
FROM per_doc
GROUP BY simhash
HAVING count(*) > 1
"""


# Fingerprint-bucket fan-out ceiling — the simhash twin of MAX_BAND_FREQ.
# A 16-bit fingerprint (kept narrow for cross-engine oracle portability;
# at 100 TB you would widen to 64-bit) concentrates boilerplate-heavy
# corpora into hot buckets at EVERY measured SF (largest natural bucket:
# 113 docs of 500 at sf0.01, 1038 of 5000 at sf0.1, 6460 of 50k at the
# synthesized sf1, where the uncapped probe join produced a >1 GiB pair
# set — caught by the first sf1 oracle sweep, r7).  Buckets above the
# ceiling contribute hub-star pairs only, same rationale and same
# oracle-mirroring discipline as MAX_BAND_FREQ above.
MAX_SIMHASH_FREQ = 8


def _shared_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, simhash) relation, materialized once per query — the
    capped probe join references it four times and each re-derived
    reference re-runs the full documents scan + tokenize + fingerprint
    aggregation (no CSE across a DataFrame DAG)."""
    from streaming_amqp_spark.operators.textstats import text_simhash

    return text_simhash(spark, sf_dir).localCheckpoint(eager=False)


def dedup_simhash_hamming1(
    spark: SparkSession,
    sf_dir: str,
    max_simhash_freq: int | None = MAX_SIMHASH_FREQ,
) -> DataFrame:
    """SimHash candidates within Hamming distance ≤ 1: one side is
    expanded to 17 probes (the hash + each single-bit flip) and equi-joined
    against the other side's exact hash — the standard multi-probe trick
    that keeps radius-k search an equi-join (shuffle on hash keys) instead
    of a pairwise distance scan.

    The probe side stays complete; the EXACT-hash side of a bucket larger
    than ``max_simhash_freq`` is collapsed to the bucket's min-doc_id hub,
    so a B-member boilerplate bucket emits O(probes-hitting-it) pairs
    instead of B·(neighbors) — every member still links to its own
    bucket's hub through its unflipped probe, so clusters stay connected
    (the MAX_BAND_FREQ star argument, dedup.py above).  Bounds total
    output by 17·cap·N: a probe value equals exactly ONE hash bucket,
    which is either cold (≤ cap rows) or hot (1 hub row), so each of the
    17·N probe rows matches at most ``cap`` rows — linear in N
    regardless of bucket skew (uncapped it is Σ quadratic bucket
    products; >1 GiB at the synthesized sf1).

    The per-doc simhash relation is referenced four times (probe side,
    bucket stats, cold side + its stats join) and the bucket stats twice
    — each is materialized once per query for the same no-CSE reason as
    ``_shared_band_stats``.

    r15 (guide §2.4, remove shuffles outright): the hamming distance is
    computed MAP-SIDE before the pair distinct.  The old shape re-joined
    the oriented pair set back to the doc-grain hash relation twice (two
    extra shuffle joins) to recompute both fingerprints; but a joined
    row already PROVES its distance — probe == h2 with
    probe = flip_p(s1), so hamming(s1, h2) is exactly 0 for the
    unflipped probe (p = 0) and exactly 1 for any flip.  The probe side
    therefore carries only the flip position (an int) instead of its
    16-char fingerprint, narrowing the 17N-row shuffle (guide §2.3).
    Hamming is symmetric (orientation-independent) and a pure function
    of the pair, so distinct-over-(id1, id2, hamming) returns exactly
    the old row set; the value is integer-exact, so the oracle's literal
    16-term sum hashes identically."""
    sim = _shared_simhash(spark, sf_dir)

    def flip(col, p):  # flip bit p (1-based) of the 16-char bitstring
        flipped = F.when(F.substring(col, p, 1) == "1", F.lit("0")).otherwise(
            F.lit("1")
        )
        return F.concat(
            F.substring(col, 1, p - 1), flipped, F.substring(col, p + 1, 16 - p)
        )

    probes = F.array(F.col("simhash"), *[flip(F.col("simhash"), p) for p in range(1, 17)])
    # r15 narrowing: carry the flip POSITION (0 = unflipped) instead of
    # the 16-char original fingerprint — a matched row's hamming is a
    # pure function of it (see `dist` below), so the probe-side shuffle
    # ships an int where it shipped a string.
    left = sim.select(
        F.col("doc_id").alias("id1"),
        F.posexplode(probes).alias("p", "probe"),
    )
    # r16 (no-DAG-CSE re-expansion class): stats is referenced by BOTH
    # the cold-side join and the hot-star filter, so the bucket-grain
    # aggregate over the simhash relation ran twice per query
    # (Exchange(21) + Exchange(31) in plans/r16's before capture).
    stats = (
        sim.groupBy("simhash")
        .agg(F.count("*").alias("bsz"), F.min("doc_id").alias("hub"))
        .localCheckpoint(eager=False)
    )
    cap = (
        F.lit(max_simhash_freq)
        if max_simhash_freq is not None
        else F.col("bsz")
    )
    right_cold = (
        # bucket stats are linear in corpus: shuffle join, never a
        # static-estimate broadcast (r9 pairs-broadcast class)
        sim.join(stats.hint("shuffle_hash"), "simhash")
        .where(F.col("bsz") <= cap)
        .select(F.col("doc_id").alias("id2"), F.col("simhash").alias("h2"))
    )
    right_hot = stats.where(F.col("bsz") > cap).select(
        F.col("hub").alias("id2"), F.col("simhash").alias("h2")
    )
    # least/greatest orientation (not the old id1<id2 filter): a hot
    # bucket's hub may be on either side of a star pair, and for cold
    # pairs the probe expansion is symmetric so the oriented-distinct set
    # is identical to the old asymmetric filter's.
    #
    # r15: a joined row satisfies probe == h2 with probe = flip_p(s1)
    # (flip_0 = identity), so hamming(s1, h2) = hamming(s1, flip_p(s1))
    # is EXACTLY 0 when p = 0 and EXACTLY 1 otherwise — the old 16-term
    # substring sum recomputed this constant per matched row (and
    # required shuffling s1 alongside every probe).  Integer-valued and
    # bit-exact, so the oracle's literal sum hashes identically.
    dist = F.when(F.col("p") == 0, F.lit(0)).otherwise(F.lit(1))
    return (
        # 17N probes vs ~N exact hashes — both linear in corpus; the
        # equi-join must shuffle on the hash key (per-key matches are
        # cap-bounded), never broadcast a side.  Hamming comes from the
        # hashes the join already carries (s1 = id1's fingerprint,
        # h2 = id2's), before orientation — symmetric, so identical
        # either way — leaving distinct as the only downstream shuffle.
        left.join(
            right_cold.unionByName(right_hot).hint("shuffle_hash"),
            left.probe == F.col("h2"),
        )
        .where(F.col("id1") != F.col("id2"))
        .select(
            F.least("id1", "id2").alias("id1"),
            F.greatest("id1", "id2").alias("id2"),
            dist.alias("hamming"),
        )
        .distinct()
    )


def _simhash_hamming1_oracle() -> str:
    from streaming_amqp_spark.operators.textstats import _simhash_oracle

    flips = ", ".join(
        "substring(simhash, 1, {pm1}) || (CASE WHEN substring(simhash, {p}, 1) = '1'"
        " THEN '0' ELSE '1' END) || substring(simhash, {pp1}, {rest})".format(
            pm1=p - 1, p=p, pp1=p + 1, rest=16 - p
        )
        for p in range(1, 17)
    )
    dist = " + ".join(
        f"(CASE WHEN substring(a.simhash, {p}, 1) <> substring(b.simhash, {p}, 1)"
        " THEN 1 ELSE 0 END)"
        for p in range(1, 17)
    )
    return f"""
WITH per_doc AS ({_simhash_oracle()}),
probes AS (
  SELECT doc_id, unnest([simhash, {flips}]) AS probe FROM per_doc
),
bstats AS (
  SELECT simhash, count(*) AS bsz, min(doc_id) AS hub
  FROM per_doc GROUP BY simhash
),
rightside AS (
  SELECT q.doc_id AS id2, q.simhash AS h2
  FROM per_doc q JOIN bstats s ON q.simhash = s.simhash
  WHERE s.bsz <= {MAX_SIMHASH_FREQ}
  UNION ALL
  SELECT s.hub AS id2, s.simhash AS h2 FROM bstats s
  WHERE s.bsz > {MAX_SIMHASH_FREQ}
),
pairs AS (
  SELECT DISTINCT least(p.doc_id, r.id2) AS id1,
                  greatest(p.doc_id, r.id2) AS id2
  FROM probes p JOIN rightside r ON p.probe = r.h2 AND p.doc_id <> r.id2
)
SELECT c.id1, c.id2, {dist} AS hamming
FROM pairs c
JOIN per_doc a ON a.doc_id = c.id1
JOIN per_doc b ON b.doc_id = c.id2
"""


# Fixed-sample bound for the exact truth side of the recall measurement.
# Covers every doc_id at sf ≤ 0.01 (recall over the whole corpus there —
# enforced by tests/test_baseline_cap.py); at sf 0.1+ it is a fixed
# 1024-doc sample, identically mirrored in the oracle.
RECALL_TRUTH_ID_CAP = 1024


def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the MinHash-LSH path against the exact all-pairs Jaccard
    ground truth — one row: how many true near-dup pairs the banded
    signatures surfaced.  Deterministic on both sides, so the approximation
    quality itself is oracle-checked (the 4×4 banding predicts ≥ ~97%
    recall at jaccard 0.8: 1-(1-s^4)^4).

    The LSH side under test runs over the whole corpus from the session
    shingle index and band stats.  The exact truth side is bounded to
    doc_id < RECALL_TRUTH_ID_CAP (mirrored in the oracle): recall is a
    fixed-sample measurement, so at any corpus scale the
    quadratic-natured exact pass stays constant-size; only this query
    reads that sample, so its posting index is materialized once per
    query, never session-cached."""
    truth = dedup_ngram_jaccard(
        spark, sf_dir, id_cap=RECALL_TRUTH_ID_CAP
    ).select("id1", "id2")
    found = dedup_minhash_lsh(spark, sf_dir).select(
        "id1", "id2", F.lit(1).alias("hit")
    )
    # count("hit") ≡ matched-row count (hit is non-null exactly on LSH
    # hits) and stays 0 — not NULL like sum() — over zero true pairs,
    # mirroring the oracle's count(f.id1); try_divide keeps the 0-pair
    # recall NULL instead of an ANSI 0/0 crash (empty-corpus probe, r11)
    return truth.join(found, ["id1", "id2"], "left").agg(
        F.count("*").alias("n_true_pairs"),
        F.count("hit").alias("n_found"),
        F.try_divide(F.count("hit").cast("double"), F.count("*")).alias(
            "recall"
        ),
    )


def _minhash_recall_oracle() -> str:
    return f"""
SELECT count(*) AS n_true_pairs,
       count(f.id1) AS n_found,
       CAST(count(f.id1) AS DOUBLE) / count(*) AS recall
FROM ({_jaccard_sql(RECALL_TRUTH_ID_CAP)}) t
LEFT JOIN ({_MINHASH_SQL}) f ON f.id1 = t.id1 AND f.id2 = t.id2
"""


CC_MAX_ITERS = 20


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the verified
    MinHash-LSH near-dup pairs via iterative min-label propagation
    (cluster_id = smallest doc_id reachable).

    This is the step that turns pairwise near-dups into the keep-one-per-
    cluster decision a curation pipeline actually applies.  Scale shape:
    each iteration is one equi-join + min-agg on doc_id (same key ⇒ one
    reused exchange); iterations needed = component diameter, which for
    near-dup clusters is tiny.  ``localCheckpoint`` truncates the lineage
    each round — the standard iterative-algorithm pattern on Spark (the
    oracle computes the same fixpoint with a recursive CTE).

    The converged labels are session-cached: the loop runs EAGERLY (a
    changed-count action per iteration), so every composing operator
    (keep-best, cluster sizes, the example pipeline) would otherwise pay
    the full iterative job again per call (review-caught)."""
    return shared_cache(
        spark, ("dedup_clusters", sf_dir), lambda: _dedup_clusters(spark, sf_dir)
    )


def _dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_minhash_lsh(spark, sf_dir).select("id1", "id2")
    edges = pairs.union(
        pairs.select(F.col("id2").alias("id1"), F.col("id1").alias("id2"))
    ).localCheckpoint()
    labels = (
        edges.select(F.col("id1").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .localCheckpoint()
    )
    for _ in range(CC_MAX_ITERS):
        neigh = (
            edges.join(labels, edges.id2 == labels.doc_id)
            .groupBy("id1")
            .agg(F.min("cluster_id").alias("neigh_min"))
        )
        new_labels = (
            labels.join(neigh, labels.doc_id == neigh.id1, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce("neigh_min", F.col("cluster_id")),
                ).alias("cluster_id"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .where(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # convergence check never fired: a component with diameter >
        # CC_MAX_ITERS would get labels that disagree with the
        # recursive-CTE oracle — make that loud, not silent.
        import warnings

        warnings.warn(
            f"dedup_clusters: min-label propagation did not converge in "
            f"{CC_MAX_ITERS} iterations; cluster labels may be unmerged "
            f"for components with diameter > {CC_MAX_ITERS}",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS ({_MINHASH_SQL}),
edges AS (
  SELECT id1, id2 FROM pairs
  UNION ALL
  SELECT id2 AS id1, id1 AS id2 FROM pairs
),
reach(doc_id, label) AS (
  SELECT DISTINCT id1, id1 FROM edges
  UNION
  SELECT e.id2, r.label FROM reach r JOIN edges e ON e.id1 = r.doc_id
)
SELECT doc_id, min(label) AS cluster_id
FROM reach
GROUP BY doc_id
"""


def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram: how many near-dup clusters exist
    of each size — the health metric a curation run reports (a sudden
    spike in large clusters means boilerplate flooded the corpus).

    Composes dedup_clusters; the two extra aggregations are tiny
    (|clusters| rows, then |distinct sizes| rows)."""
    labels = dedup_clusters(spark, sf_dir)
    sizes = labels.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .where(F.col("cluster_size") > 1)  # singletons aren't duplicates
    )


_CLUSTER_SIZES_SQL = f"""
WITH labels AS ({_CLUSTERS_SQL}),
sizes AS (
  SELECT cluster_id, count(*) AS cluster_size FROM labels GROUP BY cluster_id
)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       count(*) AS n_clusters
FROM sizes
WHERE cluster_size > 1
GROUP BY cluster_size
"""


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: for each near-dup cluster keep the
    highest-quality member (quality score from
    ``textstats.text_quality_score``; ties broken by lowest doc_id so the
    choice is deterministic) — the keep/drop decision a curation pipeline
    actually applies after clustering, rather than blind min-id.

    Scale: cluster labels are only the docs that appear in a near-dup
    pair (sparse at low duplication, corpus-sized at heavy duplication);
    the quality join shuffles by doc_id (pinned — both sides are linear
    in corpus, so neither may be broadcast), and the ranking window
    partitions by cluster_id — per-cluster state, never a global sort."""
    from pyspark.sql import Window

    from streaming_amqp_spark.operators.textstats import text_quality_score

    labels = dedup_clusters(spark, sf_dir)
    quality = text_quality_score(spark, sf_dir).select(
        "doc_id", "quality_score"
    )
    # labels (pair-participating docs) and quality (doc-grain) are both
    # linear in corpus — shuffle by doc_id, never an estimate-driven
    # broadcast (at heavy duplication labels approach corpus size)
    ranked = labels.join(quality.hint("shuffle_hash"), "doc_id").withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("cluster_id").orderBy(
                F.col("quality_score").desc(), F.col("doc_id")
            )
        ),
    )
    per_cluster = ranked.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        F.min(F.when(F.col("rk") == 1, F.col("doc_id"))).alias("kept_doc_id"),
        F.min(F.when(F.col("rk") == 1, F.col("quality_score"))).alias(
            "kept_quality"
        ),
    )
    return per_cluster.withColumn(
        "n_dropped", F.col("n_members") - F.lit(1)
    )


def _keep_best_oracle() -> str:
    from streaming_amqp_spark.operators.textstats import _QUALITY_SQL

    return f"""
WITH labels AS ({_CLUSTERS_SQL}),
quality AS ({_QUALITY_SQL}),
ranked AS (
  SELECT l.cluster_id, l.doc_id, q.quality_score,
         row_number() OVER (PARTITION BY l.cluster_id
                            ORDER BY q.quality_score DESC, l.doc_id) AS rk
  FROM labels l JOIN quality q ON q.doc_id = l.doc_id
)
SELECT cluster_id,
       count(*) AS n_members,
       min(CASE WHEN rk = 1 THEN doc_id END) AS kept_doc_id,
       min(CASE WHEN rk = 1 THEN quality_score END) AS kept_quality,
       count(*) - 1 AS n_dropped
FROM ranked
GROUP BY cluster_id
"""


def dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication report: near-dup pairs (3-shingle Jaccard
    ≥ 0.8, same machinery as ``dedup_ngram_jaccard``) rolled up by the
    unordered source pair — the "how much of source B is already in
    source A" question every corpus-mixture design starts with.

    Scale: the near-dup pair set is sparse at 0.8 but still grows with
    the corpus, and the ``documents`` label sides are doc-grain — both
    linear in N, so labels shuffle by doc id (pinned; an estimate-driven
    broadcast of either side is the r9 pairs-broadcast class).  The
    rollup output is at most |sources|² rows.  Aggregates are
    count / max / min — order-independent, so doubles are hash-safe.

    r15 (guide §2.1 remove shuffles outright): source labels ride the
    sizes joins already inside the pair build (``doc_attrs``) instead of
    re-joining the finished pair set to ``documents`` twice — the two
    pair-grain label shuffles collapse into one doc-grain lookup on the
    sizes aggregate's existing hash(doc_id) partitioning.  Same rows:
    the label join is an inner lookup on a key guaranteed present."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("source").alias("src")
    )
    labeled = dedup_ngram_jaccard(spark, sf_dir, doc_attrs=d)
    return labeled.groupBy(
        F.least("src1", "src2").alias("src_a"),
        F.greatest("src1", "src2").alias("src_b"),
    ).agg(
        F.count("*").alias("n_pairs"),
        F.max("jaccard").alias("max_jaccard"),
        F.min("id1").alias("example_id1"),
    )


_CROSS_SOURCE_SQL = f"""
WITH {_SHINGLE_CTE},
{_capped_index_cte()},
pairs AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
  FROM exf a JOIN exf b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
jac AS (
  SELECT id1, id2,
         CAST(inter AS DOUBLE) / (s1.n + s2.n - inter) AS jaccard
  FROM pairs
  JOIN csizes s1 ON s1.doc_id = id1
  JOIN csizes s2 ON s2.doc_id = id2
  WHERE CAST(inter AS DOUBLE) / (s1.n + s2.n - inter) >= {JACCARD_THRESHOLD}
)
SELECT least(d1.source, d2.source) AS src_a,
       greatest(d1.source, d2.source) AS src_b,
       count(*) AS n_pairs,
       max(jaccard) AS max_jaccard,
       min(id1) AS example_id1
FROM jac
JOIN documents d1 ON d1.doc_id = id1
JOIN documents d2 ON d2.doc_id = id2
GROUP BY 1, 2
"""


QUERIES = {
    "dedup_clusters": dedup_clusters,
    "dedup_containment": dedup_containment,
    "dedup_keep_best": dedup_keep_best,
    "dedup_cross_source": dedup_cross_source,
    "dedup_cluster_sizes": dedup_cluster_sizes,
    "dedup_minhash_recall": dedup_minhash_recall,
    "dedup_exact": dedup_exact,
    "dedup_simhash_hamming1": dedup_simhash_hamming1,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash_buckets": dedup_simhash_buckets,
}

ORACLES = {
    "dedup_clusters": _CLUSTERS_SQL,
    "dedup_containment": _CONTAINMENT_SQL,
    "dedup_keep_best": _keep_best_oracle(),
    "dedup_cross_source": _CROSS_SOURCE_SQL,
    "dedup_cluster_sizes": _CLUSTER_SIZES_SQL,
    "dedup_minhash_recall": _minhash_recall_oracle(),
    "dedup_exact": _EXACT_SQL,
    "dedup_simhash_hamming1": _simhash_hamming1_oracle(),
    "dedup_ngram_jaccard": _JACCARD_SQL,
    "dedup_minhash_lsh": _MINHASH_SQL,
    "dedup_simhash_buckets": _simhash_buckets_oracle(),
}
