"""Similarity search over the ``embeddings`` table (vec_id, embedding
float[64], label).

Three tiers, mirroring how an ANN service scales:
- Brute-force top-k (the exact baseline): broadcast the small query set,
  codegen'd cosine against every candidate, per-group top-k.  O(Q·N·d) but
  embarrassingly parallel — correct plan shape even at 100 TB when Q is
  small.
- Random-hyperplane LSH (sign-bit bucketing): candidates only form within
  a bucket, shuffling bucket keys instead of the full cross product — the
  scale path for all-pairs near-dup.
- IVF: one coarse quantizer, the label means refined by zero or more
  Lloyd steps (``_ivf_centroids``); a query probes its nearest centroids
  and searches only their clusters.

Hyperplanes are fixed literals (seeded numpy), embedded identically in the
Spark plan and the DuckDB oracle, so bucket assignments match exactly.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from streaming_amqp_spark.functions.vectors import cosine, dot, sql_cosine
from streaming_amqp_spark.tables import EMBEDDING_DIMS as DIMS
from streaming_amqp_spark.tables import fan_out, load_table
KNN_K = 5
N_QUERIES = 8  # query set = vec_id < 8
N_PLANES = 4
NEAR_DUP_COS = 0.3

# Deterministic hyperplanes, generated once at import from a fixed seed and
# embedded as literals in both engines' plans.
_rng = np.random.default_rng(42)
HYPERPLANES: list[list[float]] = [
    [float(x) for x in _rng.standard_normal(DIMS)] for x_ in range(N_PLANES)
]


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


def _emb_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings scan through ``tables.fan_out`` keyed on vec_id.

    Every expression-heavy corpus-side consumer (PQ encode, Lloyd
    assignment, cosine scoring, LSH bucketing) reads through this: a
    one-row-group file otherwise pins those projections to ONE task (the
    PQ encode projection alone is ~0.95 s single-task at sf0.1 vs ~0.1 s
    fanned out).  Filters on top (the ``vec_id < N_QUERIES`` query side,
    codebook prefixes) still push down to the parquet scan through the
    repartition, so small sides shuffle only their surviving rows."""
    return fan_out(_emb(spark, sf_dir), "vec_id")


def _queries(emb: DataFrame) -> DataFrame:
    """(query_id, q_emb): the query set, vec_id < N_QUERIES, of any
    (vec_id, embedding) relation."""
    return emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )


def _top_k(scored: DataFrame, *order, k: int = KNN_K) -> DataFrame:
    """``scored`` plus ``rank``: each query_id's first ``k`` rows under
    ``order``, the caller's tie-break (every ANN ranking ends its order
    on a unique id, so the rank is deterministic)."""
    w = W.partitionBy("query_id").orderBy(*order)
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def knn_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for each query vector (vec_id < 8)."""
    emb = _emb_wide(spark, sf_dir)
    pairs = emb.crossJoin(F.broadcast(_queries(emb))).where(
        F.col("vec_id") != F.col("query_id")
    )
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine(F.col("q_emb"), F.col("embedding")).alias("cos_sim"),
    )
    return _top_k(scored, F.col("cos_sim").desc(), "neighbor_id").select(
        "query_id", "neighbor_id", "rank", "cos_sim"
    )


_KNN_SQL = f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
         {sql_cosine('q.embedding', 'b.embedding', DIMS)} AS cos_sim
  FROM embeddings q, embeddings b
  WHERE q.vec_id < {N_QUERIES} AND b.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, rank, cos_sim
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored)
WHERE rank <= {KNN_K}
"""


def _label_means(emb: DataFrame) -> DataFrame:
    """(label, pos, n_vecs, v): each label's mean per dimension, rounded
    to 6 — the one definition of the IVF coarse quantizer's starting
    point.  posexplode → one shuffle on (label, pos); cross-engine
    sum-order ulps are ~1e-15 on these magnitudes, far below the
    rounding unit."""
    return (
        emb.select("label", F.posexplode(F.col("embedding")).alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.sum(F.col("val").cast("double")) / F.count("*"), 6).alias(
                "v"
            ),
        )
    )


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroids (the IVF label means) in long form."""
    return _label_means(_emb(spark, sf_dir)).withColumnRenamed("v", "avg_val")


_CENTROID_SQL = """
SELECT label, CAST(i - 1 AS INTEGER) AS pos, count(*) AS n_vecs,
       round(sum(CAST(embedding[i] AS DOUBLE)) / count(*), 6) AS avg_val
FROM embeddings, UNNEST(range(1, 65)) AS t(i)
GROUP BY label, i
"""


def _bucket_expr() -> F.Column:
    bits = []
    for plane in HYPERPLANES:
        lit_plane = F.array(*[F.lit(v) for v in plane])
        bits.append(
            F.when(dot(F.col("embedding"), lit_plane) >= 0, F.lit("1")).otherwise(
                F.lit("0")
            )
        )
    return F.concat(*bits)


def _sql_bucket(tbl: str) -> str:
    bits = []
    for plane in HYPERPLANES:
        chain = " + ".join(
            f"(CAST({tbl}.embedding[{i}] AS DOUBLE) * {plane[i - 1]!r})"
            for i in range(1, DIMS + 1)
        )
        bits.append(f"(CASE WHEN ({chain}) >= 0 THEN '1' ELSE '0' END)")
    return " || ".join(bits)


def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket assignment + histogram."""
    emb = _emb_wide(spark, sf_dir)
    return (
        emb.select("vec_id", _bucket_expr().alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vecs"), F.min("vec_id").alias("min_vec_id"))
    )


_LSH_BUCKETS_SQL = f"""
SELECT {_sql_bucket('embeddings')} AS bucket,
       count(*) AS n_vecs, min(vec_id) AS min_vec_id
FROM embeddings
GROUP BY 1
"""


def ann_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH scale path for all-pairs similarity: cosine is evaluated
    only for same-bucket pairs, and survivors (cos ≥ threshold) returned."""
    emb = _emb_wide(spark, sf_dir)
    bucketed = emb.select("vec_id", "embedding", _bucket_expr().alias("bucket"))
    a = bucketed.select(
        F.col("bucket"),
        F.col("vec_id").alias("id1"),
        F.col("embedding").alias("e1"),
    )
    b = bucketed.select(
        F.col("bucket"),
        F.col("vec_id").alias("id2"),
        F.col("embedding").alias("e2"),
    )
    return (
        # self-join of the full bucketed embedding table — both sides
        # linear in corpus, so the join must shuffle on the bucket key;
        # a cold-session static misestimate may otherwise broadcast one
        # side (the r9 pairs-broadcast class, see dedup._posting_pair_stats)
        a.join(b.hint("shuffle_hash"), "bucket")
        .where(F.col("id1") < F.col("id2"))
        .select(
            "id1", "id2", cosine(F.col("e1"), F.col("e2")).alias("cos_sim")
        )
        .where(F.col("cos_sim") >= NEAR_DUP_COS)
    )


_LSH_PAIRS_SQL = f"""
WITH bucketed AS (
  SELECT vec_id, embedding, {_sql_bucket('embeddings')} AS bucket
  FROM embeddings
)
SELECT a.vec_id AS id1, b.vec_id AS id2,
       {sql_cosine('a.embedding', 'b.embedding', DIMS)} AS cos_sim
FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {sql_cosine('a.embedding', 'b.embedding', DIMS)} >= {NEAR_DUP_COS}
"""


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse-quantize with the label centroids (the
    quantizer at zero Lloyd iterations), then search only the probed
    cluster.

    The two-phase shape is the scalable one: phase 1 scores Q queries
    against K centroids (tiny, broadcast), phase 2 scans only ~N/K vectors
    per query (cluster-pruned, co-partitioned by label).  Exactness is
    traded for a K× scan reduction; `knn_cosine_topk` is the recall
    baseline.

    Determinism note: centroids are rounded to 6 decimals in both engines
    before use, so every downstream cosine is computed from identical
    inputs → bit-identical results.
    """
    return ivf_topk_from(_emb(spark, sf_dir), _ivf_centroids(spark, sf_dir))


def ivf_centroids_of(emb: DataFrame) -> DataFrame:
    """(c_label, centroid double[64]): the label means as arrays — the
    coarse quantizer at zero Lloyd iterations, which the IVF searches
    probe and the persisted index build stores."""
    return (
        _label_means(emb)
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("pv"))
        .select(
            F.col("label").alias("c_label"),
            F.transform("pv", lambda s: s["v"]).alias("centroid"),
        )
    )


def _ivf_centroids(
    spark: SparkSession, sf_dir: str, iters: int = 0
) -> DataFrame:
    """The session-cached coarse quantizer (c_label, centroid) of the
    registered corpus after ``iters`` Lloyd steps.  At zero steps it is
    the label means (ivf_centroids_of), which ann_ivf_topk,
    ann_ivf_recall and ann_two_stage_recall probe; Lloyd starts from
    that cached entry, so the trained quantizer (IVF_KM_ITERS steps)
    that ann_ivf_kmeans_recall and ann_ivf_balance read costs no second
    label-mean corpus pass."""
    from streaming_amqp_spark.tables import shared_cache

    def build() -> DataFrame:
        if not iters:
            return ivf_centroids_of(_emb(spark, sf_dir))
        return _ivf_km_centroids(
            _emb_wide(spark, sf_dir), _ivf_centroids(spark, sf_dir), iters
        )

    return shared_cache(spark, ("ivf_centroids", sf_dir, iters), build)


def _ivf_probe(q: DataFrame, cent: DataFrame, nprobe: int = 1) -> DataFrame:
    """(query_id, q_emb, probe_label): each query's ``nprobe`` nearest
    centroids of ``cent`` by cosine, ties to the smaller label — a
    K×Q cross join against the broadcast centroid table."""
    scored = q.crossJoin(F.broadcast(cent)).select(
        "query_id",
        "q_emb",
        "c_label",
        cosine(F.col("q_emb"), F.col("centroid")).alias("c_cos"),
    )
    return _top_k(scored, F.col("c_cos").desc(), "c_label", k=nprobe).select(
        "query_id", "q_emb", F.col("c_label").alias("probe_label")
    )


def ivf_topk_from(vec: DataFrame, cent: DataFrame) -> DataFrame:
    """The IVF search phases over any (vec_id, label, embedding)
    relation and (c_label, centroid) table — the seam the persisted
    index store (operators/index_store.py) drives with parquet-backed
    relations."""
    # phase 1: nearest centroid per query; phase 2: exact search inside
    # the probed cluster only
    probe = _ivf_probe(_queries(vec), cent)
    cand = vec.join(
        F.broadcast(probe), vec.label == probe.probe_label
    ).where(F.col("vec_id") != F.col("query_id"))
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine(F.col("q_emb"), F.col("embedding")).alias("cos_sim"),
    )
    return _top_k(scored, F.col("cos_sim").desc(), "neighbor_id").select(
        "query_id", "neighbor_id", "rank", "cos_sim"
    )


def _ivf_oracle() -> str:
    # centroid as a list built in pos order, rounded identically to Spark
    dot_qc = " + ".join(
        f"(CAST(q.embedding[{i}] AS DOUBLE) * c.centroid[{i}])"
        for i in range(1, DIMS + 1)
    )
    norm_c = " + ".join(
        f"(c.centroid[{i}] * c.centroid[{i}])" for i in range(1, DIMS + 1)
    )
    norm_q = " + ".join(
        f"(CAST(q.embedding[{i}] AS DOUBLE) * CAST(q.embedding[{i}] AS DOUBLE))"
        for i in range(1, DIMS + 1)
    )
    return f"""
WITH cent AS (
  SELECT label AS c_label,
         list(v ORDER BY pos) AS centroid
  FROM (SELECT label, i - 1 AS pos,
               round(sum(CAST(embedding[i] AS DOUBLE)) / count(*), 6) AS v
        FROM embeddings, UNNEST(range(1, {DIMS + 1})) AS t(i)
        GROUP BY label, i - 1)
  GROUP BY label
),
probe AS (
  SELECT query_id, c_label AS probe_label FROM (
    SELECT q.vec_id AS query_id, c.c_label,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY ({dot_qc}) / (sqrt({norm_q}) * sqrt({norm_c})) DESC,
                      c.c_label) AS rk
    FROM embeddings q, cent c
    WHERE q.vec_id < {N_QUERIES})
  WHERE rk = 1
),
scored AS (
  SELECT p.query_id, b.vec_id AS neighbor_id,
         {sql_cosine('q.embedding', 'b.embedding', DIMS)} AS cos_sim
  FROM probe p
  JOIN embeddings q ON q.vec_id = p.query_id
  JOIN embeddings b ON b.label = p.probe_label AND b.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, rank, cos_sim
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored)
WHERE rank <= {KNN_K}
"""


# The exact all-pairs baseline is O(n²) by nature; it exists to oracle-check
# the LSH path's recall, not to run over a corpus.  Bound it to the first
# EXACT_BASELINE_ID_CAP ids so a driver/bench run at a larger sf stays a
# constant-size sample instead of going quadratic.  The cap covers every id
# at sf ≤ 0.01 (full-corpus exact answer there — enforced by
# tests/test_baseline_cap.py); at sf 0.1+ it is a fixed 1024-id sample,
# identically mirrored in the oracle, so parity holds at every sf.
EXACT_BASELINE_ID_CAP = 1024


def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization per vector (scale = max|x|/127,
    q_i = half-up-round(x_i/scale)) with the compression claim made
    checkable: the max reconstruction error must sit within half a
    quantization step.  Output per vector: scale, the quantized L1 norm
    (integer-exact checksum of the full int8 vector), max |x − q·scale|,
    and the bound boolean.

    Scale: pure per-row array expressions fused into the scan — zero
    shuffle; quantizing 100 TB of embeddings is exactly a read+write.
    Half-up rounding is spelled floor(x/scale + 0.5) so both engines
    round identically (no HALF_EVEN/HALF_UP library divergence)."""
    emb = _emb(spark, sf_dir)
    # Bind every O(d) expression to a column BEFORE a HOF lambda uses it:
    # an unbound array_max/transform inside transform/zip_with would be
    # re-evaluated per element — O(d²) per vector (functions.text.let's
    # documented trap).  Column references are free inside lambdas.
    staged = (
        emb.withColumn(
            "xd", F.transform(F.col("embedding"), lambda x: x.cast("double"))
        )
        .withColumn(
            "scale",
            F.array_max(F.transform(F.col("xd"), F.abs)) / F.lit(127.0),
        )
        .withColumn(
            "safe",
            F.when(F.col("scale") == 0.0, F.lit(1.0)).otherwise(
                F.col("scale")
            ),
        )
        .withColumn(
            "q",
            F.transform(
                F.col("xd"),
                lambda x: F.floor(x / F.col("safe") + F.lit(0.5)),
            ),
        )
    )
    err = F.array_max(
        F.zip_with(
            F.col("xd"),
            F.col("q"),
            lambda x, qi: F.abs(x - qi * F.col("scale")),
        )
    )
    return staged.select(
        "vec_id",
        "scale",
        F.aggregate(
            F.col("q"), F.lit(0).cast("long"), lambda acc, v: acc + F.abs(v)
        ).alias("q_l1_norm"),
        err.alias("max_abs_err"),
        # exact arithmetic gives err <= scale/2; allow 1 ulp of float
        # slack so the boolean is a claim about quantization, not about
        # the last bit of x/scale
        (err <= F.col("scale") * F.lit(0.5000001)).alias("within_half_step"),
    )


_QUANT_SQL = """
WITH x AS (
  SELECT vec_id,
         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xd
  FROM embeddings
),
s AS (
  SELECT vec_id, xd,
         list_max(list_transform(xd, v -> abs(v))) / 127.0 AS scale
  FROM x
),
q AS (
  SELECT vec_id, xd, scale,
         list_transform(xd, v -> floor(
           v / (CASE WHEN scale = 0 THEN 1.0 ELSE scale END) + 0.5)) AS qv
  FROM s
)
SELECT vec_id, scale,
       CAST(list_sum(list_transform(qv, v -> abs(v))) AS BIGINT) AS q_l1_norm,
       list_max(list_transform(range(1, len(xd) + 1),
                i -> abs(xd[i] - qv[i] * scale))) AS max_abs_err,
       list_max(list_transform(range(1, len(xd) + 1),
                i -> abs(xd[i] - qv[i] * scale))) <= scale * 0.5000001
         AS within_half_step
FROM q
"""


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup (exact all-pairs baseline; the LSH variant
    above is the 100 TB path — this one is the recall oracle for it).
    All-pairs is bounded to vec_id < EXACT_BASELINE_ID_CAP (mirrored in
    the oracle): the baseline's job is measuring recall on a fixed sample,
    never scanning pairs of the whole corpus."""
    emb = _emb_wide(spark, sf_dir).where(F.col("vec_id") < EXACT_BASELINE_ID_CAP)
    a = emb.select(F.col("vec_id").alias("id1"), F.col("embedding").alias("e1"))
    b = emb.select(F.col("vec_id").alias("id2"), F.col("embedding").alias("e2"))
    return (
        a.crossJoin(b)
        .where(F.col("id1") < F.col("id2"))
        .select("id1", "id2", cosine(F.col("e1"), F.col("e2")).alias("cos_sim"))
        .where(F.col("cos_sim") >= NEAR_DUP_COS)
    )


_EMB_DEDUP_SQL = f"""
SELECT a.vec_id AS id1, b.vec_id AS id2,
       {sql_cosine('a.embedding', 'b.embedding', DIMS)} AS cos_sim
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id
  AND a.vec_id < {EXACT_BASELINE_ID_CAP} AND b.vec_id < {EXACT_BASELINE_ID_CAP}
  AND {sql_cosine('a.embedding', 'b.embedding', DIMS)} >= {NEAR_DUP_COS}
"""


def _recall_at_k(exact: DataFrame, found: DataFrame) -> DataFrame:
    """(query_id, n_hit, recall_at_k): how many of each query's exact
    top-k neighbours ``found`` (query_id, neighbor_id) holds — the one
    recall fold every ANN panel reports (k = KNN_K = PQ_TOPK)."""
    hit = found.select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    n_hit = F.count("hit")
    return (
        exact.join(hit, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            n_hit.alias("n_hit"),
            (n_hit.cast("double") / F.lit(float(KNN_K))).alias("recall_at_k"),
        )
    )


def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF path against the exact brute-force baseline —
    the measurement every ANN deployment needs before trading exactness
    for the K× scan reduction.  Both inputs are deterministic, so recall
    itself is oracle-checkable (rare for ANN evaluation)."""
    return _recall_at_k(
        knn_cosine_topk(spark, sf_dir), ann_ivf_topk(spark, sf_dir)
    )


def _recall_oracle() -> str:
    return f"""
SELECT e.query_id,
       count(a.neighbor_id) AS n_hit,
       CAST(count(a.neighbor_id) AS DOUBLE) / {float(KNN_K)} AS recall_at_k
FROM ({_KNN_SQL}) e
LEFT JOIN ({_ivf_oracle()}) a
  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
GROUP BY e.query_id
"""


def embedding_l2_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalize every embedding (the standard pre-step before cosine =
    dot-product search), emitted as exploded (vec_id, dim, val_norm) scalar
    rows — array-typed output columns don't hash portably across engines.

    Determinism: float→double casts are exact; the squared-norm is an
    ordered left fold (``F.aggregate`` ≡ DuckDB ``list_reduce`` over the
    0.0-prepended square list), so both engines run the identical IEEE
    addition sequence; sqrt and the per-element division are single
    IEEE ops.

    Scale: pure per-row array math fused into the scan — zero shuffle;
    normalizing 100 TB of embeddings is exactly a read+write."""
    emb = _emb(spark, sf_dir)
    staged = emb.withColumn(
        "xd", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    ).withColumn(
        "nrm",
        F.sqrt(F.aggregate("xd", F.lit(0.0), lambda a, x: a + x * x)),
    )
    return (
        staged.where(F.col("nrm") > 0)
        .select(
            "vec_id",
            F.posexplode(
                F.transform("xd", lambda x: x / F.col("nrm"))
            ).alias("dim", "val_norm"),
        )
        .select("vec_id", F.col("dim").cast("long").alias("dim"), "val_norm")
    )


_L2_NORM_SQL = f"""
WITH xd AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
n AS (
  SELECT vec_id, v,
         sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
                          (a, b) -> a + b)) AS nrm
  FROM xd
)
SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim, v[i] / nrm AS val_norm
FROM n, UNNEST(range(1, {DIMS + 1})) AS t(i)
WHERE nrm > 0
"""


# ---------------------------------------------------- product quantization
PQ_M = 8  # subspaces (64 dims → 8 sub-vectors of 8)
PQ_SUB = DIMS // PQ_M  # dims per subspace
PQ_K = 16  # codes per subspace codebook
PQ_TOPK = KNN_K


def _sub_l2sq_spark(e, c, m: int):
    """Squared L2 between subspace ``m`` of two 64-dim arrays, as an
    explicit left-associated 8-term chain — the identical evaluation
    order is spelled in the oracle, so the doubles match bit-for-bit."""
    terms = []
    for j in range(1, PQ_SUB + 1):
        d = F.element_at(e, m * PQ_SUB + j).cast("double") - F.element_at(
            c, m * PQ_SUB + j
        ).cast("double")
        terms.append(d * d)
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def _sub_l2sq_sql(e: str, c: str, m_expr: str) -> str:
    return " + ".join(
        f"((CAST({e}[{m_expr} * {PQ_SUB} + {j}] AS DOUBLE)"
        f" - CAST({c}[{m_expr} * {PQ_SUB} + {j}] AS DOUBLE))"
        f" * (CAST({e}[{m_expr} * {PQ_SUB} + {j}] AS DOUBLE)"
        f" - CAST({c}[{m_expr} * {PQ_SUB} + {j}] AS DOUBLE)))"
        for j in range(1, PQ_SUB + 1)
    )


def _code_l2sq(e, cvec, m):
    """Squared L2 between subspace ``m`` (an int or an int column) of a
    64-dim array and an 8-dim code vector ``cvec``: the squared
    differences zipped over the subspace slice, folded left from a 0.0
    seed.  The seed is an IEEE identity on non-negative squares and the
    fold runs in array order, the left association the oracle's
    ``_cvec_l2sq_sql`` chain spells, so every distance is bit-identical
    to the oracle's.  The one distance the PQ encoder, Lloyd's
    assignment and the query table all evaluate."""
    return F.aggregate(
        F.zip_with(
            F.slice(e, m * PQ_SUB + 1, PQ_SUB),
            cvec,
            lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _cvec_l2sq_sql(e: str, c: str, m_expr: str) -> str:
    return " + ".join(
        f"((CAST({e}[{m_expr} * {PQ_SUB} + {j}] AS DOUBLE) - {c}[{j}])"
        f" * (CAST({e}[{m_expr} * {PQ_SUB} + {j}] AS DOUBLE) - {c}[{j}]))"
        for j in range(1, PQ_SUB + 1)
    )


def _pq_init_codebook(emb: DataFrame) -> DataFrame:
    """(m, code_id, cvec double[8]): the sub-vectors of the first PQ_K
    vectors — the fixed codebook ann_pq_adc encodes with, and Lloyd's
    starting point (so the fixed codebook is the trained one at zero
    iterations)."""

    def sub_of(m: int):
        return F.transform(
            F.sequence(F.lit(m * PQ_SUB + 1), F.lit(m * PQ_SUB + PQ_SUB)),
            lambda i: F.element_at(F.col("embedding"), i).cast("double"),
        )

    return (
        emb.where(F.col("vec_id") < PQ_K)
        .select(
            F.col("vec_id").cast("long").alias("code_id"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(m).cast("long").alias("m"),
                            sub_of(m).alias("cvec"),
                        )
                        for m in range(PQ_M)
                    ]
                )
            ).alias("p"),
        )
        .select("p.m", "code_id", "p.cvec")
    )


def _cb_subspace(m: int):
    """Subspace ``m``'s codes out of _pq_assign's broadcast sorted
    codebook column ``cb``.  On a FULL codebook (PQ_M*PQ_K entries —
    one code_id set per subspace by construction, see
    _pq_init_codebook) the (m, code_id) sort puts subspace m exactly at positions [m*PQ_K+1, PQ_K], so the
    positional slice extracts PQ_K structs; a sub-PQ_K corpus (1-row
    probe, round 11) falls back to the m-field filter, because there the
    positional slice crosses subspace boundaries (wrong-dim distances,
    NULL codes — the silent-wrong-answer class fixed in r11).  Both
    branches select the IDENTICAL set whenever the codebook is full; the
    CASE costs one array-length compare per row and keeps the hot path
    from scanning all PQ_M*PQ_K entries per subspace (ADVICE r11 — the
    unconditional field filter regressed the kmeans-recall family ~1.6×
    warm at sf0.1)."""
    return F.when(
        F.size("cb") == PQ_M * PQ_K,
        F.slice(F.col("cb"), m * PQ_K + 1, PQ_K),
    ).otherwise(F.filter(F.col("cb"), lambda c: c["m"] == F.lit(m)))


def _pq_assign(emb: DataFrame, cb_rows: DataFrame) -> DataFrame:
    """The PQ encoder: nearest code per (vector, subspace) against any
    codebook in the (m, code_id, cvec) layout — fixed or trained, so
    the encode, Lloyd's assignment and the index build and append all
    run this one projection.  transform scores each code ONCE
    (_code_l2sq); array_min's field-wise struct compare takes the
    minimum distance and breaks ties to the lowest code_id (≡ the
    oracle's ORDER BY d, code_id).  The codebook is one broadcast row,
    so encoding is a pure projection over the corpus scan: sorted by
    (m, code_id), subspace m occupies slice [m*PQ_K+1, PQ_K]."""
    one = cb_rows.agg(
        F.sort_array(F.collect_list(F.struct("m", "code_id", "cvec"))).alias(
            "cb"
        )
    )
    wc = emb.crossJoin(F.broadcast(one))

    def best(m: int):
        scored = F.transform(
            _cb_subspace(m),
            lambda c: F.struct(
                _code_l2sq(F.col("embedding"), c["cvec"], m).alias("d"),
                c["code_id"].alias("k"),
            ),
        )
        return F.array_min(scored)["k"]

    return wc.select(
        "vec_id",
        "embedding",
        *[best(m).alias(f"code{m}") for m in range(PQ_M)],
    )


def pq_codes_long(emb: DataFrame, cb: DataFrame) -> DataFrame:
    """PQ codes in long form (vec_id, m, code) — the encode pass the
    persisted index stores so serving never re-runs it."""
    return _pq_assign(emb, cb).selectExpr(
        "vec_id",
        "stack({n}, {args}) AS (m, code)".format(
            n=PQ_M,
            args=", ".join(f"{m}L, code{m}" for m in range(PQ_M)),
        ),
    )


def _pq_fixed(spark, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(codebook, long-form codes) under the fixed codebook.  The codes
    are session-cached: ann_pq_adc (and through it ann_pq_recall) and
    ann_two_stage_recall read the IDENTICAL N×PQ_M code table — in
    production exactly what the persisted PQ index stores, so one
    encode pass per corpus is the honest cost model."""
    from streaming_amqp_spark.tables import shared_cache

    cb = _pq_init_codebook(_emb(spark, sf_dir))
    enc = shared_cache(
        spark,
        ("pq_fixed_enc_long", sf_dir),
        lambda: pq_codes_long(_emb_wide(spark, sf_dir), cb),
    )
    return cb, enc


def _pq_query_dists(emb: DataFrame, cb: DataFrame) -> DataFrame:
    """(query_id, m, code_id, qdist): each query's distance to every
    code of its subspace, rounded to 6 — the |Q|·PQ_M·PQ_K-row ADC
    lookup table, by the encoder's distance (_code_l2sq)."""
    qdist = _code_l2sq(F.col("q_emb"), F.col("cvec"), F.col("m").cast("int"))
    return _queries(emb).crossJoin(F.broadcast(cb)).select(
        "query_id", "m", "code_id", F.round(qdist, 6).alias("qdist")
    )


def _pq_adc_topk(
    spark: SparkSession, sf_dir: str, cb: DataFrame, enc: DataFrame
) -> DataFrame:
    """Full-corpus ADC top-k (query_id, neighbor_id, rank, approx_dist)
    over codebook ``cb`` and its long-form codes ``enc``: each stored
    vector's distance is the sum of the query's table entries for its
    codes, DECIMAL-exact after round(6) (the functions.numeric
    convention), ranked by (dist, neighbor_id)."""
    qd = _pq_query_dists(_emb(spark, sf_dir), cb)
    adc = (
        enc.join(
            F.broadcast(qd),
            (enc.m == qd.m) & (enc.code == qd.code_id),
        )
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(
            F.sum(F.col("qdist").cast("decimal(18,6)"))
            .cast("double")
            .alias("approx_dist")
        )
    )
    return _top_k(adc, "approx_dist", "vec_id").select(
        "query_id", F.col("vec_id").alias("neighbor_id"), "rank", "approx_dist"
    )


def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (ADC), the memory-scale tier below IVF: each vector is compressed to
    8 one-byte codes (nearest codebook entry per 8-dim subspace), and
    queries score candidates by summing precomputed query-to-code
    distances instead of touching raw vectors.

    Codebook: the sub-vectors of the first PQ_K vectors (deterministic
    sample).  A k-means-trained codebook drops in identically:
    ann_pq_kmeans_recall passes _pq_trained's codebook and codes
    through the same encoder and the same ADC (_pq_adc_topk).

    Scale shape: the codebook is ONE broadcast row, so encoding is a pure
    projection (per-row argmin over 16 codes × 8 subspaces — zero
    shuffle: at 100 TB, compressing the corpus is exactly a scan); the
    query distance table (|Q|·8·16 rows) is broadcast, and the only
    shuffles are the map-side-combined per-(query, vector) distance sum
    and the per-query top-k window.

    Tie-breaks are deterministic everywhere: encoding takes the minimum
    distance with ties to the lowest code_id (≡ the oracle's ORDER BY
    d, code_id), ranking orders by (dist, neighbor_id)."""
    return _pq_adc_topk(spark, sf_dir, *_pq_fixed(spark, sf_dir))


def _pq_oracle() -> str:
    d_ec = _sub_l2sq_sql("e.embedding", "c.cemb", "m.m")
    d_qc = _sub_l2sq_sql("q.embedding", "c.cemb", "m.m")
    return f"""
WITH cb AS (
  SELECT vec_id AS code_id, embedding AS cemb FROM embeddings
  WHERE vec_id < {PQ_K}
),
dists AS (
  SELECT e.vec_id, m.m, c.code_id, {d_ec} AS d
  FROM embeddings e, UNNEST(range(0, {PQ_M})) AS m(m), cb c
),
enc AS (
  SELECT vec_id, m, code_id AS code FROM (
    SELECT vec_id, m, code_id,
           row_number() OVER (PARTITION BY vec_id, m
                              ORDER BY d, code_id) AS rk
    FROM dists)
  WHERE rk = 1
),
qd AS (
  SELECT q.vec_id AS query_id, m.m, c.code_id, round({d_qc}, 6) AS qdist
  FROM embeddings q, UNNEST(range(0, {PQ_M})) AS m(m), cb c
  WHERE q.vec_id < {N_QUERIES}
),
adc AS (
  SELECT qd.query_id, enc.vec_id AS neighbor_id,
         CAST(sum(CAST(qd.qdist AS DECIMAL(18,6))) AS DOUBLE) AS approx_dist
  FROM enc JOIN qd ON qd.m = enc.m AND qd.code_id = enc.code
  WHERE enc.vec_id <> qd.query_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, rank, approx_dist
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY approx_dist, neighbor_id) AS rank
      FROM adc)
WHERE rank <= {PQ_TOPK}
"""


def _l2sq_full_spark(e, q):
    """Full-dimension squared L2 as the left-associated chain of the 8
    per-subspace chains (identical term order to the oracle)."""
    out = _sub_l2sq_spark(e, q, 0)
    for m in range(1, PQ_M):
        out = out + _sub_l2sq_spark(e, q, m)
    return out


def _exact_l2_topk(spark, sf_dir: str) -> DataFrame:
    """The exact full-dimension L2 top-k baseline (query_id, neighbor_id)
    shared by every recall panel (PQ fixed / PQ k-means / two-stage /
    IVF k-means).  Session-cached: four panels grounding against the
    same truth used to each recompute the |Q|-broadcast scan
    (Catalyst does not CSE across separate DataFrame trees — the
    events_mad_anomaly lesson); now the baseline is one cached
    PQ_TOPK*|Q|-row relation per sf_dir."""
    from streaming_amqp_spark.tables import shared_cache

    def _build() -> DataFrame:
        emb = _emb(spark, sf_dir)
        scored = (
            emb.crossJoin(F.broadcast(_queries(emb)))
            .where(F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                _l2sq_full_spark(F.col("q_emb"), F.col("embedding")).alias(
                    "d"
                ),
            )
        )
        return _top_k(scored, "d", "neighbor_id").select(
            "query_id", "neighbor_id"
        )

    return shared_cache(spark, ("exact_l2_topk", sf_dir), _build)



def ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the PQ-ADC path against the exact L2 top-k baseline —
    the compression-loss measurement that decides the (M, K) codebook
    budget.  Both sides are deterministic, so the recall itself is
    oracle-checked.  ann_pq_kmeans_recall is this panel under the
    trained codebook: the two differ only in the codebook and codes
    they pass to pq_kmeans_recall_from.

    Expectation note: the synthetic corpus's embeddings are i.i.d. random,
    the hardest case for PQ (no cluster structure for 8-byte codes to
    exploit) — measured recall here is low BY CONSTRUCTION, and that
    measurement is exactly what this operator exists to surface before a
    codebook ships."""
    return pq_kmeans_recall_from(spark, sf_dir, *_pq_fixed(spark, sf_dir))


def _pq_recall_oracle() -> str:
    # full-dim distance as the SAME left-associated 64-term chain as the
    # Spark side (an aggregate over unnested subspaces would sum in
    # engine-chosen order and could differ in ulps, flipping rank ties)
    d_full = " + ".join(
        "(" + _sub_l2sq_sql("q.embedding", "b.embedding", str(m)) + ")"
        for m in range(PQ_M)
    )
    return f"""
WITH exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {d_full}, b.vec_id) AS rank
    FROM embeddings q
    JOIN embeddings b ON b.vec_id <> q.vec_id
    WHERE q.vec_id < {N_QUERIES})
  WHERE rank <= {PQ_TOPK}
)
SELECT e.query_id,
       CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
       CAST(count(a.neighbor_id) AS DOUBLE) / {float(PQ_TOPK)} AS recall_at_k
FROM exact e
LEFT JOIN ({_pq_oracle()}) a
  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
GROUP BY e.query_id
"""


# ------------------------------------- IVF with k-means-refined centroids
IVF_KM_ITERS = 2


def _ivf_km_trained(spark, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(trained centroids, final assignment (vec_id, c_label)) for the
    registered corpus — ann_ivf_kmeans_recall and ann_ivf_balance both
    consume them; the assignment is session-cached beside the
    centroids, or each query would re-run the corpus-wide assignment
    scan."""
    from streaming_amqp_spark.tables import shared_cache

    cb = _ivf_centroids(spark, sf_dir, IVF_KM_ITERS)
    assigned = shared_cache(
        spark,
        ("ivf_km_assign", sf_dir),
        lambda: _ivf_km_assign(_emb_wide(spark, sf_dir), cb).select(
            "vec_id", "c_label"
        ),
    )
    return cb, assigned


def _ivf_km_centroids(emb: DataFrame, cb: DataFrame, iters: int) -> DataFrame:
    """(c_label, centroid double[64]): the centroids ``cb`` refined by
    ``iters`` full-dimension Lloyd steps over ``emb`` — zero steps is
    ``cb`` itself.  Label partitions are an arbitrary bootstrap; the
    trained coarse quantizer is what real IVF ships.  Same determinism
    recipe as _pq_train_kmeans: left-chain L2 assignment with array_min
    struct tie-breaks (ties → smallest label ≡ ORDER BY d, cl),
    DECIMAL-exact means, empty clusters keep their centroid.  Each
    step's K-row means are localCheckpoint'd, so the iterate is ``cb``
    joined to one materialized table per step: T steps cost T corpus
    scans, not 2^T plan re-derivations, and ``cb`` stays read once.

    Scale: one corpus scan per iteration against the broadcast K-row
    codebook + one (label, dim)-keyed 640-cell shuffle — the MLlib
    k-means shape at K=|labels|."""
    for _ in range(iters):
        vals = _ivf_km_assign(emb, cb).select(
            "c_label", F.posexplode("embedding").alias("dim", "val")
        )
        p = F.round(F.col("val").cast("double"), 9).cast("decimal(38,12)")
        means = vals.groupBy("c_label", "dim").agg(
            (F.sum(p).cast("double") / F.count("*")).alias("mu")
        )
        newc = (
            means.groupBy("c_label")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "mu"))),
                    lambda s: s["mu"],
                ).alias("centroid_new")
            )
            .localCheckpoint(eager=False)
        )
        cb = (
            # newc is K rows; post-aggregate size estimates are garbage,
            # and without the hint the planner sort-merge-joined the
            # K-row iterate every iteration (r15: −25% per training run)
            cb.join(F.broadcast(newc), "c_label", "left")
            .select(
                "c_label",
                F.coalesce("centroid_new", F.col("centroid")).alias(
                    "centroid"
                ),
            )
        )
    return cb


def _ivf_km_assign(
    df: DataFrame, cb: DataFrame, vec: str = "embedding"
) -> DataFrame:
    """``df`` plus ``c_label``: the label of the centroid of ``cb``
    nearest to each row's ``vec`` by full-dim L2 — Lloyd's step, the
    final corpus assignment and ann_ivf_kmeans_recall's query probe."""
    one = cb.agg(
        F.sort_array(F.collect_list(F.struct("c_label", "centroid"))).alias(
            "cbs"
        )
    )
    scored = F.transform(
        F.col("cbs"),
        lambda c: F.struct(
            _l2sq_full_spark(F.col(vec), c["centroid"]).alias("d"),
            c["c_label"].alias("c_label"),
        ),
    )
    return df.crossJoin(F.broadcast(one)).select(
        *df.columns, F.array_min(scored)["c_label"].alias("c_label")
    )


def ann_ivf_kmeans_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of IVF search under the TRAINED coarse quantizer: probe
    the nearest refined centroid, search exactly (full-dim L2) inside
    that cluster's ASSIGNED members only, measure against the exact-L2
    top-k baseline.  Output per query: probed-cluster size, hits,
    recall — vs `ann_ivf_recall`, which runs the same panel on the
    quantizer at zero Lloyd iterations (the label partitions).

    Scale: probing is Q×K against the broadcast trained centroids; the
    candidate scan reads one cluster (at 100 TB the assignment is a
    partition column, so this is partition pruning); the exact baseline
    exists only to measure recall."""
    emb = _emb(spark, sf_dir)
    cb, assigned = _ivf_km_trained(spark, sf_dir)
    probe = _ivf_km_assign(_queries(emb), cb, "q_emb")
    cand = (
        emb.join(assigned, "vec_id")
        .join(F.broadcast(probe), "c_label")
        .where(F.col("vec_id") != F.col("query_id"))
    )
    ncand = cand.groupBy("query_id").agg(F.count("*").alias("n_candidates"))
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _l2sq_full_spark(F.col("q_emb"), F.col("embedding")).alias("d"),
    )
    return (
        _recall_at_k(
            _exact_l2_topk(spark, sf_dir), _top_k(scored, "d", "neighbor_id")
        )
        .join(ncand, "query_id")
        .select("query_id", "n_candidates", "n_hit", "recall_at_k")
    )


def _ivf_kmeans_cb_ctes(iters: int = IVF_KM_ITERS) -> str:
    """CTE chain icb0 → icb{iters}: label-mean bootstrap + Lloyd."""
    d_full = " + ".join(
        "(" + _sub_l2sq_sql("e.embedding", "c.centroid", str(m)) + ")"
        for m in range(PQ_M)
    )
    parts = [
        f"""icb0 AS MATERIALIZED (
  SELECT label AS cl, list(v ORDER BY pos) AS centroid
  FROM (SELECT label, i - 1 AS pos,
               round(sum(CAST(embedding[i] AS DOUBLE)) / count(*), 6) AS v
        FROM embeddings, UNNEST(range(1, {DIMS + 1})) AS t(i)
        GROUP BY label, i - 1)
  GROUP BY label)"""
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"""iassign{t} AS MATERIALIZED (
  SELECT vec_id, cl FROM (
    SELECT e.vec_id, c.cl,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {d_full}, c.cl) AS rk
    FROM embeddings e, icb{t - 1} c)
  WHERE rk = 1),
imeans{t} AS MATERIALIZED (
  SELECT a.cl, j.j - 1 AS dim,
         CAST(sum(CAST(round(CAST(e.embedding[j.j] AS DOUBLE), 9)
                       AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS mu
  FROM iassign{t} a
  JOIN embeddings e ON e.vec_id = a.vec_id,
       UNNEST(range(1, {DIMS + 1})) AS j(j)
  GROUP BY 1, 2),
imv{t} AS (
  SELECT cl, list(mu ORDER BY dim) AS centroid_new
  FROM imeans{t} GROUP BY 1),
icb{t} AS MATERIALIZED (
  SELECT p.cl, coalesce(n.centroid_new, p.centroid) AS centroid
  FROM icb{t - 1} p LEFT JOIN imv{t} n ON n.cl = p.cl)"""
        )
    return ",\n".join(parts)


def _ivf_kmeans_recall_oracle() -> str:
    T = IVF_KM_ITERS
    d_ec = " + ".join(
        "(" + _sub_l2sq_sql("e.embedding", "c.centroid", str(m)) + ")"
        for m in range(PQ_M)
    )
    d_qc = " + ".join(
        "(" + _sub_l2sq_sql("q.embedding", "c.centroid", str(m)) + ")"
        for m in range(PQ_M)
    )
    d_qb = " + ".join(
        "(" + _sub_l2sq_sql("q.embedding", "b.embedding", str(m)) + ")"
        for m in range(PQ_M)
    )
    return f"""
WITH {_ivf_kmeans_cb_ctes()},
final_assign AS MATERIALIZED (
  SELECT vec_id, cl FROM (
    SELECT e.vec_id, c.cl,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {d_ec}, c.cl) AS rk
    FROM embeddings e, icb{T} c)
  WHERE rk = 1),
probe AS (
  SELECT query_id, cl AS probe_cl FROM (
    SELECT q.vec_id AS query_id, c.cl,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {d_qc}, c.cl) AS rk
    FROM embeddings q, icb{T} c
    WHERE q.vec_id < {N_QUERIES})
  WHERE rk = 1),
cand AS (
  SELECT p.query_id, a.vec_id
  FROM probe p JOIN final_assign a ON a.cl = p.probe_cl
  WHERE a.vec_id <> p.query_id),
ncand AS (SELECT query_id, count(*) AS n_candidates FROM cand GROUP BY 1),
found AS (
  SELECT query_id, neighbor_id FROM (
    SELECT c.query_id, b.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY c.query_id
                              ORDER BY {d_qb}, b.vec_id) AS rank
    FROM cand c
    JOIN embeddings b ON b.vec_id = c.vec_id
    JOIN embeddings q ON q.vec_id = c.query_id)
  WHERE rank <= {PQ_TOPK}),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {d_qb}, b.vec_id) AS rank
    FROM embeddings q
    JOIN embeddings b ON b.vec_id <> q.vec_id
    WHERE q.vec_id < {N_QUERIES})
  WHERE rank <= {PQ_TOPK})
SELECT e.query_id, n.n_candidates,
       CAST(count(f.neighbor_id) AS BIGINT) AS n_hit,
       CAST(count(f.neighbor_id) AS DOUBLE) / {float(PQ_TOPK)} AS recall_at_k
FROM exact e
LEFT JOIN found f
  ON f.query_id = e.query_id AND f.neighbor_id = e.neighbor_id
JOIN ncand n ON n.query_id = e.query_id
GROUP BY e.query_id, n.n_candidates
"""


def ann_ivf_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Health panel of the trained IVF index: per cluster — member count,
    corpus share, and the DECIMAL-exact mean squared distance to the
    centroid.  This is the report that tunes K: at 100 TB a skewed
    cluster is a skewed partition (one probe scans it all), and a high
    mean distance says the coarse quantizer under-fits.  Reuses the
    trained centroids and assignment of ann_ivf_kmeans_recall; one
    corpus scan + a K-row aggregate.  The output names the cluster
    ``cl``."""
    emb = _emb(spark, sf_dir)
    cb, assigned = _ivf_km_trained(spark, sf_dir)
    a = assigned.join(emb.select("vec_id", "embedding"), "vec_id")
    d2 = _l2sq_full_spark(F.col("embedding"), F.col("centroid"))
    per = (
        a.join(F.broadcast(cb), "c_label")
        .select(
            F.col("c_label").alias("cl"),
            F.round(d2, 9).cast("decimal(38,12)").alias("d2"),
        )
        .groupBy("cl")
        .agg(
            F.count("*").alias("n_vecs"),
            (F.sum("d2").cast("double") / F.count("*")).alias("mean_l2sq"),
        )
    )
    tot = emb.agg(F.count("*").alias("n_total"))
    return per.crossJoin(F.broadcast(tot)).select(
        "cl",
        "n_vecs",
        (F.col("n_vecs").cast("double") / F.col("n_total").cast("double")).alias(
            "share"
        ),
        "mean_l2sq",
    )


def _ivf_balance_oracle() -> str:
    T = IVF_KM_ITERS
    d_ec = " + ".join(
        "(" + _sub_l2sq_sql("e.embedding", "c.centroid", str(m)) + ")"
        for m in range(PQ_M)
    )
    return f"""
WITH {_ivf_kmeans_cb_ctes()},
final_assign AS MATERIALIZED (
  SELECT vec_id, cl FROM (
    SELECT e.vec_id, c.cl,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {d_ec}, c.cl) AS rk
    FROM embeddings e, icb{T} c)
  WHERE rk = 1),
per AS (
  SELECT a.cl, count(*) AS n_vecs,
         CAST(sum(CAST(round({d_ec}, 9) AS DECIMAL(38,12))) AS DOUBLE)
           / count(*) AS mean_l2sq
  FROM final_assign a
  JOIN embeddings e ON e.vec_id = a.vec_id
  JOIN icb{T} c ON c.cl = a.cl
  GROUP BY a.cl),
tot AS (SELECT count(*) AS n_total FROM embeddings)
SELECT cl, CAST(n_vecs AS BIGINT) AS n_vecs,
       CAST(n_vecs AS DOUBLE) / CAST(n_total AS DOUBLE) AS share,
       mean_l2sq
FROM per, tot
"""


# -------------------------------------- two-stage retrieval (IVF -> PQ-ADC)
NPROBE = 2  # clusters probed per query (multi-probe IVF)


def ann_two_stage_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production retrieval shape — BOTH ANN tiers composed: an IVF
    coarse probe shortlists ~NPROBE/K of the corpus, and the shortlist is
    re-ranked by PQ-ADC code distances, so query time touches centroids
    + 8-byte codes + the candidate id list, never a full vector.  Output
    per query: shortlist size, hits against the exact-L2 top-k baseline,
    recall@k — the panel that tunes (nprobe, codebook) against latency.

    Scale: phase 1 is Q×K against broadcast centroids; phase 2 joins the
    broadcast probe table on the cluster key (label-partition pruning —
    at 100 TB the candidate scan reads only probed partitions); the ADC
    re-rank shuffles map-side-combined DECIMAL sums for candidate pairs
    only (|cands| ≪ N·Q).  The exact baseline exists to measure recall
    and is dropped at scale.  The coarse probe is ann_ivf_topk's
    (_ivf_probe over the same label centroids) at nprobe=NPROBE.  The
    re-rank reads ann_pq_adc's fixed codebook, codes and query table; a
    trained codebook drops in through the same encoder and
    _pq_query_dists."""
    emb = _emb(spark, sf_dir)
    probe = _ivf_probe(_queries(emb), _ivf_centroids(spark, sf_dir), NPROBE)
    # r15: cand feeds BOTH the ADC re-rank and the n_candidates rollup;
    # without DAG CSE the whole coarse phase (centroid scoring, probe
    # window, label join) re-expanded per reference.  Lazy
    # localCheckpoint computes the narrow (query_id, vec_id) shortlist
    # once, scoped to the query.
    cand = (
        emb.join(F.broadcast(probe), emb.label == probe.probe_label)
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .localCheckpoint(eager=False)
    )
    ncand = cand.groupBy("query_id").agg(
        F.count("*").alias("n_candidates")
    )
    # fixed-codebook codes and query distance table: the ones
    # ann_pq_adc reads (the codes session-cache-shared with it); the
    # re-rank joins the codes of the shortlisted vectors only
    cb, enc = _pq_fixed(spark, sf_dir)
    qd = _pq_query_dists(emb, cb)
    adc = (
        cand.join(enc, "vec_id")
        .join(F.broadcast(qd), ["query_id", "m"])
        .where(F.col("code") == F.col("code_id"))
        .groupBy("query_id", "vec_id")
        .agg(
            F.sum(F.col("qdist").cast("decimal(18,6)"))
            .cast("double")
            .alias("approx_dist")
        )
    )
    shortlist = _top_k(adc, "approx_dist", "vec_id").select(
        "query_id", F.col("vec_id").alias("neighbor_id")
    )
    return (
        _recall_at_k(_exact_l2_topk(spark, sf_dir), shortlist)
        .join(ncand, "query_id")
        .select("query_id", "n_candidates", "n_hit", "recall_at_k")
    )


def _two_stage_oracle() -> str:
    dot_qc = " + ".join(
        f"(CAST(q.embedding[{i}] AS DOUBLE) * c.centroid[{i}])"
        for i in range(1, DIMS + 1)
    )
    norm_c = " + ".join(
        f"(c.centroid[{i}] * c.centroid[{i}])" for i in range(1, DIMS + 1)
    )
    norm_q = " + ".join(
        f"(CAST(q.embedding[{i}] AS DOUBLE) * CAST(q.embedding[{i}] AS DOUBLE))"
        for i in range(1, DIMS + 1)
    )
    d_ec = _sub_l2sq_sql("e.embedding", "c.cemb", "m.m")
    d_qc = _sub_l2sq_sql("q.embedding", "c.cemb", "m.m")
    d_full = " + ".join(
        "(" + _sub_l2sq_sql("q.embedding", "b.embedding", str(m)) + ")"
        for m in range(PQ_M)
    )
    return f"""
WITH cent AS (
  SELECT label AS c_label,
         list(v ORDER BY pos) AS centroid
  FROM (SELECT label, i - 1 AS pos,
               round(sum(CAST(embedding[i] AS DOUBLE)) / count(*), 6) AS v
        FROM embeddings, UNNEST(range(1, {DIMS + 1})) AS t(i)
        GROUP BY label, i - 1)
  GROUP BY label
),
probe AS (
  SELECT query_id, c_label AS probe_label FROM (
    SELECT q.vec_id AS query_id, c.c_label,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY ({dot_qc}) / (sqrt({norm_q}) * sqrt({norm_c})) DESC,
                      c.c_label) AS rk
    FROM embeddings q, cent c
    WHERE q.vec_id < {N_QUERIES})
  WHERE rk <= {NPROBE}
),
cand AS (
  SELECT p.query_id, b.vec_id
  FROM probe p JOIN embeddings b
    ON b.label = p.probe_label AND b.vec_id <> p.query_id
),
ncand AS (
  SELECT query_id, count(*) AS n_candidates FROM cand GROUP BY 1
),
cbr AS (
  SELECT vec_id AS code_id, embedding AS cemb FROM embeddings
  WHERE vec_id < {PQ_K}
),
dists AS (
  SELECT e.vec_id, m.m, c.code_id, {d_ec} AS d
  FROM embeddings e, UNNEST(range(0, {PQ_M})) AS m(m), cbr c
),
enc AS (
  SELECT vec_id, m, code_id AS code FROM (
    SELECT vec_id, m, code_id,
           row_number() OVER (PARTITION BY vec_id, m
                              ORDER BY d, code_id) AS rk
    FROM dists)
  WHERE rk = 1
),
qd AS (
  SELECT q.vec_id AS query_id, m.m, c.code_id, round({d_qc}, 6) AS qdist
  FROM embeddings q, UNNEST(range(0, {PQ_M})) AS m(m), cbr c
  WHERE q.vec_id < {N_QUERIES}
),
adc AS (
  SELECT cand.query_id, cand.vec_id AS neighbor_id,
         CAST(sum(CAST(qd.qdist AS DECIMAL(18,6))) AS DOUBLE) AS approx_dist
  FROM cand
  JOIN enc ON enc.vec_id = cand.vec_id
  JOIN qd ON qd.query_id = cand.query_id AND qd.m = enc.m
         AND qd.code_id = enc.code
  GROUP BY 1, 2
),
shortlist AS (
  SELECT query_id, neighbor_id
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY approx_dist, neighbor_id)
                    AS rank
        FROM adc)
  WHERE rank <= {PQ_TOPK}
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {d_full}, b.vec_id) AS rank
    FROM embeddings q
    JOIN embeddings b ON b.vec_id <> q.vec_id
    WHERE q.vec_id < {N_QUERIES})
  WHERE rank <= {PQ_TOPK}
)
SELECT e.query_id, n.n_candidates,
       CAST(count(s.neighbor_id) AS BIGINT) AS n_hit,
       CAST(count(s.neighbor_id) AS DOUBLE) / {float(PQ_TOPK)} AS recall_at_k
FROM exact e
LEFT JOIN shortlist s
  ON s.query_id = e.query_id AND s.neighbor_id = e.neighbor_id
JOIN ncand n ON n.query_id = e.query_id
GROUP BY e.query_id, n.n_candidates
"""


# ------------------------------------------- PQ k-means codebook training
PQ_KM_ITERS = 2


def _pq_train_kmeans(emb: DataFrame, iters: int = PQ_KM_ITERS) -> DataFrame:
    """PQ_KM_ITERS Lloyd iterations per subspace: assign each sub-vector
    to its nearest centroid, recompute centroids as the DECIMAL-exact
    mean of their members (round(9) + DECIMAL(38,12) sums, the
    embedding_pca_power convention, so partition layout cannot perturb
    them); empty clusters keep their previous centroid.

    Scale: one corpus scan per iteration (assignment is map-side against
    the broadcast 128-row codebook) + one (m, code, dim)-keyed shuffle of
    1024 partial-aggregated cells — the MLlib k-means shape.  The
    codebook iterate is localCheckpoint'd per iteration so T iterations
    cost T scans, not 2^T plan re-derivations."""
    cb = _pq_init_codebook(emb)
    for _ in range(iters):
        a = _pq_assign(emb, cb)
        stacked = a.selectExpr(
            "embedding",
            "stack({n}, {args}) AS (m, code)".format(
                n=PQ_M,
                args=", ".join(f"{m}L, code{m}" for m in range(PQ_M)),
            ),
        )
        vals = stacked.select(
            "m",
            "code",
            F.explode(F.sequence(F.lit(1), F.lit(PQ_SUB))).alias("j"),
            "embedding",
        )
        p = F.round(
            F.element_at(
                F.col("embedding"),
                (F.col("m") * PQ_SUB + F.col("j")).cast("int"),
            ).cast("double"),
            9,
        ).cast("decimal(38,12)")
        means = vals.groupBy("m", "code", "j").agg(
            (F.sum(p).cast("double") / F.count("*")).alias("mu")
        )
        mv = means.groupBy("m", F.col("code").alias("code_id")).agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "mu"))),
                lambda s: s["mu"],
            ).alias("cvec_new")
        )
        cb = (
            # mv is PQ_M×PQ_K rows; broadcast the iterate join (the
            # _ivf_km_centroids reasoning — post-aggregate estimates
            # otherwise plan a sort-merge join per iteration)
            cb.join(F.broadcast(mv), ["m", "code_id"], "left")
            .select(
                "m",
                "code_id",
                F.coalesce("cvec_new", F.col("cvec")).alias("cvec"),
            )
            .localCheckpoint(eager=False)
        )
    return cb


def _pq_trained(spark, sf_dir: str) -> DataFrame:
    """Session-cached trained PQ codebook — the codebook query and the
    recall panel both consume it (one Lloyd run per sf per session)."""
    from streaming_amqp_spark.tables import shared_cache

    return shared_cache(
        spark,
        ("pq_km_codebook", sf_dir),
        lambda: _pq_train_kmeans(_emb_wide(spark, sf_dir)),
    )


def ann_pq_kmeans_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k-means-trained PQ codebook itself, unpivoted to scalar rows
    (m, code_id, dim, c) — every Lloyd step exactly oracle-checked (the
    oracle unrolls the identical assignments and DECIMAL means as CTEs,
    the embedding_pca_power pattern)."""
    cb = _pq_trained(spark, sf_dir)
    return cb.select(
        "m",
        "code_id",
        F.posexplode("cvec").alias("dim", "c"),
    ).select("m", "code_id", F.col("dim").cast("long").alias("dim"), "c")


def _pq_kmeans_cb_ctes(iters: int = PQ_KM_ITERS) -> str:
    """CTE chain cb0 → cb{iters} replaying Lloyd bit-for-bit."""
    chain = _cvec_l2sq_sql("e.embedding", "c.cvec", "c.m")
    parts = [
        f"""cb0 AS (
  SELECT CAST(m.m AS BIGINT) AS m, CAST(e.vec_id AS BIGINT) AS code_id,
         list_transform(range(1, {PQ_SUB + 1}),
                        j -> CAST(e.embedding[m.m * {PQ_SUB} + j] AS DOUBLE))
           AS cvec
  FROM embeddings e, UNNEST(range(0, {PQ_M})) AS m(m)
  WHERE e.vec_id < {PQ_K})"""
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"""assign{t} AS (
  SELECT vec_id, m, code FROM (
    SELECT e.vec_id, c.m, c.code_id AS code,
           row_number() OVER (PARTITION BY e.vec_id, c.m
                              ORDER BY {chain}, c.code_id) AS rk
    FROM embeddings e, cb{t - 1} c)
  WHERE rk = 1),
means{t} AS (
  SELECT a.m, a.code, j.j,
         CAST(sum(CAST(round(CAST(e.embedding[a.m * {PQ_SUB} + j.j]
                                  AS DOUBLE), 9)
                       AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS mu
  FROM assign{t} a
  JOIN embeddings e ON e.vec_id = a.vec_id,
       UNNEST(range(1, {PQ_SUB + 1})) AS j(j)
  GROUP BY 1, 2, 3),
mv{t} AS (
  SELECT m, code AS code_id, list(mu ORDER BY j) AS cvec_new
  FROM means{t} GROUP BY 1, 2),
cb{t} AS (
  SELECT p.m, p.code_id, coalesce(n.cvec_new, p.cvec) AS cvec
  FROM cb{t - 1} p
  LEFT JOIN mv{t} n ON n.m = p.m AND n.code_id = p.code_id)"""
        )
    return ",\n".join(parts)


def _pq_kmeans_codebook_oracle() -> str:
    return f"""
WITH {_pq_kmeans_cb_ctes()}
SELECT m, code_id, CAST(j - 1 AS BIGINT) AS dim, cvec[j] AS c
FROM cb{PQ_KM_ITERS}, UNNEST(range(1, {PQ_SUB + 1})) AS t(j)
"""


def ann_pq_kmeans_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of PQ-ADC under the TRAINED codebook against the exact
    L2 top-k baseline — the measurement that justifies spending Lloyd
    iterations: on this corpus mean recall doubles vs the fixed
    codebook of ann_pq_recall at the driver/bench scales (0.30 vs 0.15
    at sf0.01, 0.225 vs 0.125 at sf0.1 — asserted by
    test_pq_kmeans_recall_beats_fixed; the 500-vector sf0.001 corpus is
    inside sampling noise).  The same encoder, query table, ADC and
    recall fold as ann_pq_recall, under the trained codebook.  The code
    table is read once by the ADC join, so the encode pass runs inside
    this plan with no materialization of its own."""
    cb = _pq_trained(spark, sf_dir)
    enc = pq_codes_long(_emb_wide(spark, sf_dir), cb)
    return pq_kmeans_recall_from(spark, sf_dir, cb, enc)


def pq_kmeans_recall_from(
    spark: SparkSession, sf_dir: str, cb: DataFrame, enc: DataFrame
) -> DataFrame:
    """The ADC + recall phases over a materialized codebook ``cb``
    (m, code_id, cvec) and its long-form codes ``enc`` — fixed
    (ann_pq_recall), trained (ann_pq_kmeans_recall) or read from the
    persisted index store (queries and the exact baseline still read
    the corpus vectors)."""
    return _recall_at_k(
        _exact_l2_topk(spark, sf_dir), _pq_adc_topk(spark, sf_dir, cb, enc)
    )


def _pq_kmeans_recall_oracle() -> str:
    T = PQ_KM_ITERS
    chain = _cvec_l2sq_sql("e.embedding", "c.cvec", "c.m")
    chain_q = _cvec_l2sq_sql("q.embedding", "c.cvec", "c.m")
    d_full = " + ".join(
        "(" + _sub_l2sq_sql("q.embedding", "b.embedding", str(m)) + ")"
        for m in range(PQ_M)
    )
    return f"""
WITH {_pq_kmeans_cb_ctes()},
enc AS (
  SELECT vec_id, m, code FROM (
    SELECT e.vec_id, c.m, c.code_id AS code,
           row_number() OVER (PARTITION BY e.vec_id, c.m
                              ORDER BY {chain}, c.code_id) AS rk
    FROM embeddings e, cb{T} c)
  WHERE rk = 1),
qd AS (
  SELECT q.vec_id AS query_id, c.m, c.code_id, round({chain_q}, 6) AS qdist
  FROM embeddings q, cb{T} c
  WHERE q.vec_id < {N_QUERIES}),
adc AS (
  SELECT qd.query_id, enc.vec_id AS neighbor_id,
         CAST(sum(CAST(qd.qdist AS DECIMAL(18,6))) AS DOUBLE) AS approx_dist
  FROM enc JOIN qd ON qd.m = enc.m AND qd.code_id = enc.code
  WHERE enc.vec_id <> qd.query_id
  GROUP BY 1, 2),
approx AS (
  SELECT query_id, neighbor_id
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY approx_dist, neighbor_id)
                    AS rank
        FROM adc)
  WHERE rank <= {PQ_TOPK}),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {d_full}, b.vec_id) AS rank
    FROM embeddings q
    JOIN embeddings b ON b.vec_id <> q.vec_id
    WHERE q.vec_id < {N_QUERIES})
  WHERE rank <= {PQ_TOPK})
SELECT e.query_id,
       CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
       CAST(count(a.neighbor_id) AS DOUBLE) / {float(PQ_TOPK)} AS recall_at_k
FROM exact e
LEFT JOIN approx a
  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
GROUP BY e.query_id
"""


# ------------------------------------------------------ PCA power iteration
PCA_ITERS = 3
# v0 = uniform unit vector; 1/8 = 0.125 is exact in binary, so both
# engines start from the identical vector without a normalization step.
PCA_V0 = 1.0 / 8.0


def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding cloud via PCA_ITERS fixed
    power-iteration steps (v ← normalize(XᵀX v)) — the iterative-algorithm
    pattern (like dedup_clusters' label propagation) applied to numeric
    linear algebra, with every step exactly oracle-checked.

    Cross-engine bit-exactness, the hard part: the per-row projection
    u = x·v and every norm are ordered left folds (``F.aggregate`` ≡
    DuckDB ``list_reduce`` over a 0.0-prepended list); the cross-row
    reduction w_d = Σᵢ xᵢ[d]·uᵢ — the one sum whose order Spark cannot
    pin — goes through round(9) + DECIMAL(38,12), which is exact and
    associative, so partition layout cannot perturb it.  The iterate v
    is carried as a ONE-ROW array DataFrame (sorted collect of the 64
    per-dim sums) and broadcast — engine code never collects to the
    driver.

    Scale: per iteration = one corpus scan (projection is map-side
    against the broadcast v) + one 64-key shuffle + one 64-row
    single-partition fold.  T iterations of 100 TB PCA cost T scans —
    the same shape GraphX/MLlib power iteration uses.  The one-row
    iterate is localCheckpoint'd per iteration (VERDICT r4 #9): without
    it every re-execution re-derives the whole T-deep lazy tree
    (measured 1.8 s/run at sf0.1 — almost entirely re-planning);
    with it the iterate is 64 doubles pinned on the executors and a
    re-run costs 0.05 s.  Same per-iteration convention as
    dedup_clusters' label propagation and _pq_train_kmeans."""
    emb = _emb(spark, sf_dir)
    vrow = spark.range(1).select(
        F.array_repeat(F.lit(PCA_V0), DIMS).alias("v")
    )
    for _ in range(PCA_ITERS):
        with_v = emb.crossJoin(F.broadcast(vrow))
        # bind u BELOW the explode: projected above Generate, the
        # interpreted 64-term fold would re-evaluate once per exploded
        # element (64x per vector) — review-caught, same trap as the
        # HOF-lambda binding rule in text_chunk_cdc
        u = dot(F.col("embedding"), F.col("v"))
        prods = with_v.withColumn("u", u).select(
            F.posexplode("embedding").alias("dim", "xval"), "u"
        )
        p = F.round(F.col("xval").cast("double") * F.col("u"), 9).cast(
            "decimal(38,12)"
        )
        w = prods.groupBy("dim").agg(F.sum(p).cast("double").alias("w"))
        wv = F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "w"))),
            lambda s: s["w"],
        )
        vrow = w.agg(wv.alias("wv")).select(
            F.transform(
                "wv",
                lambda x: x
                / F.sqrt(
                    F.aggregate(
                        F.transform(F.col("wv"), lambda y: y * y),
                        F.lit(0.0),
                        lambda acc, y: acc + y,
                    )
                ),
            ).alias("v"),
            F.sqrt(
                F.aggregate(
                    F.transform(F.col("wv"), lambda y: y * y),
                    F.lit(0.0),
                    lambda acc, y: acc + y,
                )
            ).alias("growth"),
        ).localCheckpoint(eager=False)
    return vrow.select(
        F.posexplode("v").alias("dim", "loading"), F.col("growth")
    )


def _pca_oracle() -> str:
    sq_fold = (
        "list_reduce(list_prepend(0.0, list_transform({v}, y -> y * y)),"
        " (a, b) -> a + b)"
    )
    prev = f"(SELECT list_transform(range(1, {DIMS + 1}), i -> {PCA_V0!r}) AS v)"
    for t in range(PCA_ITERS):
        u_fold = (
            "list_reduce(list_prepend(0.0, list_transform(range(1, "
            f"{DIMS + 1}), i -> CAST(e.embedding[i] AS DOUBLE) * v.v[i])), "
            "(a, b) -> a + b)"
        )
        w = f"""
(SELECT list(w ORDER BY dim) AS wv FROM (
   SELECT i - 1 AS dim,
          CAST(sum(CAST(round(CAST(e.embedding[i] AS DOUBLE) * e.u, 9)
                        AS DECIMAL(38,12))) AS DOUBLE) AS w
   FROM (SELECT embedding, {u_fold} AS u
         FROM embeddings e, {prev} v) e,
        UNNEST(range(1, {DIMS + 1})) AS t(i)
   GROUP BY i - 1))
"""
        norm = sq_fold.format(v="wv")
        prev = f"""
(SELECT list_transform(wv, x -> x / sqrt({norm})) AS v,
        sqrt({norm}) AS growth
 FROM {w})
"""
    return f"""
SELECT CAST(i - 1 AS INTEGER) AS dim, v.v[i] AS loading, v.growth
FROM {prev} v, UNNEST(range(1, {DIMS + 1})) AS t(i)
"""


QUERIES = {
    "embedding_l2_normalize": embedding_l2_normalize,
    "ann_pq_adc": ann_pq_adc,
    "ann_pq_recall": ann_pq_recall,
    "ann_pq_kmeans_codebook": ann_pq_kmeans_codebook,
    "ann_pq_kmeans_recall": ann_pq_kmeans_recall,
    "ann_two_stage_recall": ann_two_stage_recall,
    "ann_ivf_kmeans_recall": ann_ivf_kmeans_recall,
    "ann_ivf_balance": ann_ivf_balance,
    "embedding_pca_power": embedding_pca_power,
    "ann_ivf_recall": ann_ivf_recall,
    "knn_cosine_topk": knn_cosine_topk,
    "embedding_centroids": embedding_centroids,
    "ann_lsh_buckets": ann_lsh_buckets,
    "ann_lsh_candidate_pairs": ann_lsh_candidate_pairs,
    "ann_ivf_topk": ann_ivf_topk,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "embedding_quantize_int8": embedding_quantize_int8,
}

ORACLES = {
    "embedding_l2_normalize": _L2_NORM_SQL,
    "ann_pq_adc": _pq_oracle(),
    "ann_pq_recall": _pq_recall_oracle(),
    "ann_pq_kmeans_codebook": _pq_kmeans_codebook_oracle(),
    "ann_pq_kmeans_recall": _pq_kmeans_recall_oracle(),
    "ann_two_stage_recall": _two_stage_oracle(),
    "ann_ivf_kmeans_recall": _ivf_kmeans_recall_oracle(),
    "ann_ivf_balance": _ivf_balance_oracle(),
    "embedding_pca_power": _pca_oracle(),
    "ann_ivf_recall": _recall_oracle(),
    "ann_ivf_topk": _ivf_oracle(),
    "knn_cosine_topk": _KNN_SQL,
    "embedding_centroids": _CENTROID_SQL,
    "ann_lsh_buckets": _LSH_BUCKETS_SQL,
    "ann_lsh_candidate_pairs": _LSH_PAIRS_SQL,
    "dedup_embedding_cosine": _EMB_DEDUP_SQL,
    "embedding_quantize_int8": _QUANT_SQL,
}
