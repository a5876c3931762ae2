"""Text analysis over the ``documents`` table: token statistics, quality
scoring, language-ID heuristic, document fingerprinting.

All per-document expressions are single-pass projections (no shuffle); the
aggregate views shuffle once on their group key.  Ratios are exact-integer
divisions surfaced as double (deterministic across engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_amqp_spark.functions.text import (
    STOPWORDS,
    guarded_sequence,
    let,
    shingles,
    simhash16,
    stopword_count,
    tokens,
)
from streaming_amqp_spark.tables import fan_out, load_table


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # a narrow scan fans out so md5-heavy projections use all cores
    return fan_out(load_table(spark, sf_dir, "documents"), "doc_id")


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, distinct tokens, char-based
    length stats, and a BPE-ish subword estimate (ceil(chars/4) — the
    standard ~4-chars-per-token heuristic, exact integer arithmetic)."""
    d = _docs(spark, sf_dir)
    t = tokens()
    return d.select(
        "doc_id",
        F.size(t).alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("n_uniq_tokens"),
        F.length("text").alias("n_chars_measured"),
        (-F.floor(-F.length("text") / F.lit(4)).cast("long")).alias("est_bpe_tokens"),
        (F.size(F.array_distinct(t)).cast("double") / F.size(t)).alias(
            "type_token_ratio"
        ),
    )


_TOKEN_STATS_SQL = """
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       len(list_distinct(string_split(text, ' '))) AS n_uniq_tokens,
       length(text) AS n_chars_measured,
       CAST(-floor(-length(text) / 4.0) AS BIGINT) AS est_bpe_tokens,
       CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         / len(string_split(text, ' ')) AS type_token_ratio
FROM documents
"""


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio, mean token length, type-token
    ratio, combined into one score.  The formula is an explicit
    left-to-right double expression — identical evaluation order in the
    oracle keeps the result bit-deterministic."""
    d = _docs(spark, sf_dir)
    t = tokens()
    n_tok = F.size(t)
    sw_ratio = stopword_count(t).cast("double") / n_tok
    # sum of token lengths = chars - (n_tokens - 1) separators, exact ints
    avg_tok_len = (F.length("text") - n_tok + 1).cast("double") / n_tok
    ttr = F.size(F.array_distinct(t)).cast("double") / n_tok
    score = (F.lit(0.4) * (F.lit(1.0) - sw_ratio)) + (F.lit(0.3) * ttr) + (
        F.lit(0.3) * (avg_tok_len / F.lit(10.0))
    )
    return d.where(n_tok >= 1).select(
        "doc_id",
        "lang",
        sw_ratio.alias("stopword_ratio"),
        avg_tok_len.alias("avg_token_len"),
        ttr.alias("type_token_ratio"),
        score.alias("quality_score"),
    )


_SW_LIST = ", ".join(f"'{w}'" for w in STOPWORDS)
_QUALITY_SQL = f"""
WITH t AS (
  SELECT doc_id, lang,
         len(string_split(text, ' ')) AS n_tok,
         len(list_filter(string_split(text, ' '), x -> x IN ({_SW_LIST}))) AS n_stop,
         len(list_distinct(string_split(text, ' '))) AS n_uniq,
         length(text) AS n_chars
  FROM documents
)
SELECT doc_id, lang,
       CAST(n_stop AS DOUBLE) / n_tok AS stopword_ratio,
       CAST(n_chars - n_tok + 1 AS DOUBLE) / n_tok AS avg_token_len,
       CAST(n_uniq AS DOUBLE) / n_tok AS type_token_ratio,
       (0.4 * (1.0 - CAST(n_stop AS DOUBLE) / n_tok))
         + (0.3 * (CAST(n_uniq AS DOUBLE) / n_tok))
         + (0.3 * ((CAST(n_chars - n_tok + 1 AS DOUBLE) / n_tok) / 10.0))
         AS quality_score
FROM t
WHERE n_tok >= 1
"""


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (function-word profile).  The synthetic corpus
    shares one vocabulary across langs, so the interesting output is the
    *plumbing* — per-language marker counts, predicted label, agreement
    rate against the labeled ``lang`` column — not model accuracy."""
    d = _docs(spark, sf_dir)
    t = tokens()
    en_score = stopword_count(t)
    pred = F.when(en_score > 0, F.lit("en")).otherwise(F.lit("unknown"))
    per_doc = d.select(
        "lang", en_score.alias("en_markers"), pred.alias("pred_lang")
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("en_markers").alias("total_en_markers"),
        F.count(F.when(F.col("pred_lang") == F.col("lang"), 1)).alias("n_pred_match"),
    )


_LANG_SQL = f"""
WITH scored AS (
  SELECT lang,
         len(list_filter(string_split(text, ' '), x -> x IN ({_SW_LIST})))
           AS en_markers
  FROM documents
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(en_markers) AS BIGINT) AS total_en_markers,
       count(CASE WHEN (CASE WHEN en_markers > 0 THEN 'en' ELSE 'unknown' END) = lang
                  THEN 1 END) AS n_pred_match
FROM scored
GROUP BY lang
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: full-text md5 (exact-dup key) + winnowing-
    style robust fingerprint = min md5 over 3-word shingles (stable under
    small edits — the rolling-hash-min idea with a portable hash)."""
    d = _docs(spark, sf_dir)
    sh = shingles()
    return d.where(F.size(tokens()) >= 3).select(
        "doc_id",
        F.md5(F.col("text")).alias("exact_fp"),
        F.array_min(F.transform(sh, lambda s: F.md5(s))).alias("robust_fp"),
        F.size(sh).alias("n_shingles"),
    )


_FINGERPRINT_SQL = """
WITH sh AS (
  SELECT doc_id, text,
         list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
           i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
                || ' ' || string_split(text,' ')[i+2])) AS shingles
  FROM documents
  WHERE len(string_split(text, ' ')) >= 3
)
SELECT doc_id,
       md5(text) AS exact_fp,
       list_min(list_transform(shingles, s -> md5(s))) AS robust_fp,
       len(shingles) AS n_shingles
FROM sh
"""


WINNOW_W = 4  # winnowing window (in shingles)


def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (Schleimer et al., MOSS): hash every positional 3-gram
    shingle, keep the minimum hash of each sliding window of W hashes —
    guarantees a shared fingerprint for any sufficiently long shared
    substring, with O(n/W) selected hashes per document.  Output is the
    exploded (doc_id, fingerprint) set, the join key for containment-style
    near-dup detection at corpus scale."""
    d = _docs(spark, sf_dir)
    t = tokens()

    def hashes_of(tt):  # positional (non-distinct) shingles, hashed in order
        return F.transform(
            guarded_sequence(F.lit(0), F.size(tt) - F.lit(3)),
            lambda i: F.md5(
                F.concat_ws(
                    " ",
                    F.element_at(tt, i + 1),
                    F.element_at(tt, i + 2),
                    F.element_at(tt, i + 3),
                )
            ),
        )

    def picks_of(h):  # min-hash of each sliding window over bound hashes
        return F.array_distinct(
            F.transform(
                guarded_sequence(F.lit(0), F.size(h) - F.lit(WINNOW_W)),
                lambda i: F.array_min(F.slice(h, i + 1, WINNOW_W)),
            )
        )

    # double let-binding (see functions.text.let): tokens evaluated once
    # for the hash array, the hash array evaluated once for the O(n·W)
    # window mins — not re-split / re-hashed per window position
    picks = let(t, lambda tt: let(hashes_of(tt), picks_of))
    return (
        d.where(F.size(t) >= WINNOW_W + 2)
        .select("doc_id", F.explode(picks).alias("fingerprint"))
    )


_WINNOW_SQL = f"""
WITH h AS (
  SELECT doc_id,
         list_transform(range(1, len(string_split(text,' ')) - 1),
           i -> md5(string_split(text,' ')[i] || ' ' ||
                    string_split(text,' ')[i+1] || ' ' ||
                    string_split(text,' ')[i+2])) AS hashes
  FROM documents
  WHERE len(string_split(text, ' ')) >= {WINNOW_W + 2}
)
SELECT doc_id, unnest(list_distinct(list_transform(
         range(1, len(hashes) - {WINNOW_W} + 2),
         i -> list_min(hashes[i : i + {WINNOW_W} - 1])))) AS fingerprint
FROM h
"""


def text_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document (see functions.text.simhash16).

    NULL-text docs are dropped (≡ the oracle's unnest over a NULL split):
    hashing nothing to '0000000000000000' would alias every NULL doc into
    one near-dup bucket (pathological-corpus probe, round 11)."""
    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    return d.select("doc_id", simhash16(tokens()).alias("simhash"))


def _simhash_oracle() -> str:
    digit_bits = []
    for p in range(1, 17):
        digit_bits.append(
            "CASE WHEN sum(CASE WHEN substring(md5(t), {p}, 1) IN "
            "('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) >= 0 "
            "THEN '1' ELSE '0' END".format(p=p)
        )
    concat = " || ".join(digit_bits)
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
  FROM documents
)
SELECT doc_id, {concat} AS simhash
FROM toks
GROUP BY doc_id
"""


def text_doc_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building with document frequency + smoothed IDF — the
    TF-IDF backbone of a corpus pipeline.  Top 50 terms by df (term as
    tie-break) keeps the result bounded at any corpus size.

    Scale: explode(distinct tokens) is a flatMap projection; the only
    shuffle is the term-count agg (map-side partial combine applies), and
    the corpus size joins in as a broadcast 1-row literal.  IDF is rounded
    to 4 decimals (the irrational-output convention, plans.relational
    RATIO)."""
    d = _docs(spark, sf_dir)
    n_docs = d.select(F.count("*").alias("n_docs"))
    df_ = (
        d.select(F.explode(F.array_distinct(tokens())).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    return (
        df_.crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            "df",
            F.round(
                F.log(
                    (F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))
                ),
                4,
            ).alias("idf"),
        )
        .orderBy(F.col("df").desc(), "term")
        .limit(50)
    )


_DOC_FREQ_SQL = """
WITH df AS (
  SELECT t AS term, count(*) AS df
  FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
        FROM documents)
  GROUP BY t
)
SELECT term, df,
       round(ln(((SELECT count(*) FROM documents) + 1.0) / (df + 1.0)), 4)
         AS idf
FROM df
ORDER BY df DESC, term
LIMIT 50
"""


def text_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequencies (top 40) — the n-gram language-model
    count table.  Raw (non-distinct) counts, unlike document frequency:
    the same explode → count shape, one agg shuffle with map-side
    combine; bounded output via top-k.

    Reads the scan without ``fan_out``: unlike text_doc_frequency's
    distinct-token explode, the raw bigram explode leaves little for
    the map-side combine, and an exchange of full text rows costs more
    executor CPU than the parallelism saves in wall time (sf0.1,
    local[3], six alternating runs: CPU median 456 ms with the fan-out
    vs 375 ms without, wall 0.70 vs 0.74 s)."""
    d = load_table(spark, sf_dir, "documents")

    def bigrams_of(t):  # let-bound: element_at must hit a lambda variable,
        # not re-split the text per position (O(n²) HOF trap)
        return F.transform(
            guarded_sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(t, i), F.element_at(t, i + 1)
            ),
        )

    return (
        d.where(F.size(tokens()) >= 2)
        .select(F.explode(let(tokens(), bigrams_of)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(40)
    )


_BIGRAM_SQL = """
SELECT bigram, count(*) AS n
FROM (
  SELECT unnest(list_transform(range(1, len(string_split(text, ' '))),
                i -> string_split(text, ' ')[i] || ' ' ||
                     string_split(text, ' ')[i + 1])) AS bigram
  FROM documents
  WHERE len(string_split(text, ' ')) >= 2
)
GROUP BY bigram
ORDER BY n DESC, bigram
LIMIT 40
"""


TFIDF_TOP_K = 3


def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-k keywords by TF-IDF (tf × smoothed idf,
    ln((N+1)/(df+1)) with the repo's round-4 irrational-output
    convention; ties broken by term so the ranking is total).

    Scale: tf aggregates on (doc_id, term) with map-side combine; df
    reduces tf by term (no second corpus scan); the tf⋈idf join keys on
    term and is AQE-broadcastable when the vocabulary is small; the
    final top-k window partitions by doc_id — no global window, no
    unbounded state anywhere."""
    d = _docs(spark, sf_dir)
    from pyspark.sql import Window as W

    n_docs = d.select(F.count("*").alias("n_docs"))
    # r15 negative results, kept for the record: tf feeds BOTH the
    # scored join and the df reduction (double tokenize+explode, no DAG
    # CSE), but (a) a window-by-term df regressed 0.62 -> 0.94 s (term
    # sort > second tokenize), (b) a corpus fan-out regressed
    # 0.62 -> 0.78 s, and (c) a lazy localCheckpoint of tf was a wash
    # (control-normalized ~0.70 vs 0.76 — tf is doc×term grain, so
    # materializing it costs about what recomputing it does).  The
    # double derivation stands as the cheapest known shape.
    tf = (
        d.select("doc_id", F.explode(tokens()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    idf = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            F.round(
                F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))),
                4,
            ).alias("idf"),
        )
    )
    scored = tf.join(idf, "term").select(
        "doc_id", "term", "tf", (F.col("tf") * F.col("idf")).alias("score")
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "rank", "term", "tf", "score")
    )


_TFIDF_SQL = f"""
WITH tf AS (
  SELECT doc_id, t AS term, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
  GROUP BY doc_id, t
),
idf AS (
  SELECT term,
         round(ln(((SELECT count(*) FROM documents) + 1.0)
                  / (count(*) + 1.0)), 4) AS idf
  FROM tf GROUP BY term
),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, tf.tf * idf.idf AS score,
         row_number() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf * idf.idf DESC, tf.term) AS rank
  FROM tf JOIN idf USING (term)
)
SELECT doc_id, CAST(rank AS INTEGER) AS rank, term,
       CAST(tf AS BIGINT) AS tf, score
FROM scored WHERE rank <= {TFIDF_TOP_K}
"""


def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: each document's mean per-token
    log-probability under the corpus unigram model (the classic cheap
    filter — documents far below the corpus-typical logprob are noise,
    far above are boilerplate).

    Scale: two passes over the corpus — one explode subtree builds the
    unigram counts (the total derives from those counts via a
    vocab-sized global window, not a third corpus scan) and one feeds
    the per-doc scoring join (term-keyed, AQE-broadcastable for bounded
    vocabularies); the per-doc sum shuffles on doc_id.  round(6) output:
    cross-engine sum-order ulps (~1e-15 relative) sit far below the
    rounding unit (the embedding_centroids convention)."""
    from pyspark.sql import Window as W

    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", F.explode(tokens()).alias("term"))
    uni = toks.groupBy("term").agg(F.count("*").alias("uni_n"))
    logp = uni.select(
        "term",
        F.log(
            F.col("uni_n").cast("double")
            / F.sum("uni_n").over(W.partitionBy()).cast("double")
        ).alias("token_logp"),
    )
    return (
        toks.join(logp, "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.sum("token_logp") / F.count("*"), 6).alias(
                "avg_token_logprob"
            ),
        )
    )


_UNIGRAM_LOGPROB_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
uni AS (SELECT term, count(*) AS n FROM toks GROUP BY term),
logp AS (
  SELECT term,
         ln(CAST(n AS DOUBLE)
            / CAST((SELECT sum(n) FROM uni) AS DOUBLE)) AS token_logp
  FROM uni
)
SELECT doc_id,
       count(*) AS n_tokens,
       round(sum(token_logp) / count(*), 6) AS avg_token_logprob
FROM toks JOIN logp USING (term)
GROUP BY doc_id
"""


def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality-filter rules (Rae et al. 2021 §A1.1, public):
    per-document boolean verdicts for token-count bounds, mean-word-length
    bounds, stopword presence, and a repetition screen, plus the combined
    pass flag.  Every rule is exact-integer arithmetic (sum of token
    lengths = chars − (n_tok − 1) separators; TTR ≥ 0.2 as n_uniq·5 ≥
    n_tok), so the output is bit-deterministic across engines.

    Scale: one pass over the scan, no shuffle (plan-asserted) — the
    filter fuses into whatever pipeline consumes it."""
    d = load_table(spark, sf_dir, "documents")
    t = tokens()
    base = d.select(
        "doc_id",
        "lang",
        F.size(t).alias("n_tok"),
        F.size(F.array_distinct(t)).alias("n_uniq"),
        stopword_count(t).alias("n_stop"),
        F.length("text").alias("n_chars"),
    )
    sum_tok_len = F.col("n_chars") - F.col("n_tok") + 1
    rules = base.select(
        "doc_id",
        "lang",
        "n_tok",
        F.col("n_tok").between(5, 1000).alias("rule_len"),
        (
            (sum_tok_len >= 2 * F.col("n_tok"))
            & (sum_tok_len <= 12 * F.col("n_tok"))
        ).alias("rule_word_len"),
        (F.col("n_stop") >= 1).alias("rule_stopword"),
        (F.col("n_uniq") * 5 >= F.col("n_tok")).alias("rule_ttr"),
    )
    return rules.withColumn(
        "passes",
        F.col("rule_len")
        & F.col("rule_word_len")
        & F.col("rule_stopword")
        & F.col("rule_ttr"),
    )


_SW_IN = ", ".join(f"'{w}'" for w in STOPWORDS)
_GOPHER_SQL = f"""
WITH base AS (
  SELECT doc_id, lang,
         len(string_split(text, ' ')) AS n_tok,
         len(list_distinct(string_split(text, ' '))) AS n_uniq,
         len(list_filter(string_split(text, ' '), x -> x IN ({_SW_IN}))) AS n_stop,
         length(text) AS n_chars
  FROM documents
),
rules AS (
  SELECT doc_id, lang, n_tok,
         n_tok BETWEEN 5 AND 1000 AS rule_len,
         (n_chars - n_tok + 1 >= 2 * n_tok)
           AND (n_chars - n_tok + 1 <= 12 * n_tok) AS rule_word_len,
         n_stop >= 1 AS rule_stopword,
         n_uniq * 5 >= n_tok AS rule_ttr
  FROM base
)
SELECT *, rule_len AND rule_word_len AND rule_stopword AND rule_ttr AS passes
FROM rules
"""


def corpus_len_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length-distribution report: 50-char buckets of ``n_chars``
    per language, with each bucket's share of its language.  The dataset
    card / mixture-design view of the corpus.

    Scale: one aggregate keyed on (lang, bucket) — thousands of groups at
    any corpus size — then a window over the per-lang totals of that tiny
    result.  Share = double-cast int ÷ window int sum: one IEEE division,
    no double accumulation."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    bucket = F.floor(F.col("n_chars") / F.lit(50)).cast("long")
    per = d.groupBy("lang", bucket.alias("len_bucket")).agg(
        F.count("*").alias("n_docs")
    )
    w = W.partitionBy("lang")
    return per.select(
        "lang",
        "len_bucket",
        "n_docs",
        (F.col("n_docs").cast("double") / F.sum("n_docs").over(w)).alias(
            "share_of_lang"
        ),
    )


_LEN_HIST_SQL = """
WITH per AS (
  SELECT lang,
         CAST(floor(n_chars / 50.0) AS BIGINT) AS len_bucket,
         count(*) AS n_docs
  FROM documents
  GROUP BY 1, 2
)
SELECT lang, len_bucket, n_docs,
       CAST(n_docs AS DOUBLE)
         / CAST(sum(n_docs) OVER (PARTITION BY lang) AS BIGINT) AS share_of_lang
FROM per
"""


def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token entropy (nats) — the information-density quality
    signal: low entropy ⇒ repetitive/templated text.  p·ln p summed per
    document, rounded(6): the per-term products are bit-identical in both
    engines; only the final sum's partition order can differ, and its ulp
    drift (~1e-14 on ≤1k-term docs) sits far below the rounding unit
    (same argument as text_unigram_logprob).

    Scale: explode → one (doc, term) count shuffle → per-doc reduce; the
    per-doc total rides a doc_id-partitioned window on the already-reduced
    term counts — no second corpus scan."""
    from pyspark.sql import Window as W

    d = _docs(spark, sf_dir)
    counts = (
        d.select("doc_id", F.explode(tokens()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("c"))
    )
    n = F.sum("c").over(W.partitionBy("doc_id"))
    p = F.col("c").cast("double") / n
    return (
        counts.select("doc_id", n.alias("n_tok"), (p * F.log(p)).alias("plogp"))
        .groupBy("doc_id", "n_tok")
        .agg(F.round(-F.sum("plogp"), 6).alias("entropy_nats"))
    )


_ENTROPY_SQL = """
WITH counts AS (
  SELECT doc_id, t AS term, count(*) AS c
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
  GROUP BY doc_id, t
),
staged AS (
  SELECT doc_id,
         CAST(sum(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n_tok,
         (CAST(c AS DOUBLE) / CAST(sum(c) OVER (PARTITION BY doc_id) AS BIGINT))
           * ln(CAST(c AS DOUBLE)
                / CAST(sum(c) OVER (PARTITION BY doc_id) AS BIGINT)) AS plogp
  FROM counts
)
SELECT doc_id, n_tok, round(-sum(plogp), 6) AS entropy_nats
FROM staged
GROUP BY doc_id, n_tok
"""


BPE_MERGES = 3  # learned merge steps (each oracle-unrolled as CTEs)
BPE_JOIN = "+"  # joiner for merged tokens (absent from the corpus vocab)


def _bpe_learn(spark: SparkSession, sf_dir: str):
    """Run the BPE_MERGES learning loop; returns (per-step one-row merge
    DataFrames, the final rewritten corpus).  Shared by the merge-table
    query and the compression panel so both ride one lineage."""
    cur = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    merges = []
    for step in range(1, BPE_MERGES + 1):
        d = cur.withColumn("toks", F.split("text", " "))
        t = F.col("toks")
        pair_idx = F.when(
            F.size(t) >= 2, F.sequence(F.lit(1), F.size(t) - 1)
        ).otherwise(F.array().cast("array<int>"))
        ex = d.select(
            F.explode(
                F.transform(
                    pair_idx,
                    lambda i: F.struct(
                        F.element_at(t, i).alias("x"),
                        F.element_at(t, i + 1).alias("y"),
                    ),
                )
            ).alias("p")
        ).select("p.x", "p.y")
        best = (
            ex.groupBy("x", "y")
            .agg(F.count("*").alias("c"))
            .orderBy(F.col("c").desc(), "x", "y")
            .limit(1)
            .localCheckpoint(eager=False)
        )
        merges.append(
            best.select(
                F.lit(step).alias("step"),
                F.col("x").alias("tok_a"),
                F.col("y").alias("tok_b"),
                F.col("c").alias("pair_count"),
            )
        )
        doubled = F.concat(
            F.lit(" "), F.replace(F.col("text"), F.lit(" "), F.lit("  ")),
            F.lit(" "),
        )
        pat = F.concat(
            F.lit(" "), F.col("x"), F.lit("  "), F.col("y"), F.lit(" ")
        )
        rep = F.concat(
            F.lit(" "), F.col("x"), F.lit(BPE_JOIN), F.col("y"), F.lit(" ")
        )
        cur = cur.crossJoin(F.broadcast(best)).select(
            "doc_id",
            F.trim(
                F.replace(F.replace(doubled, pat, rep), F.lit("  "), F.lit(" "))
            ).alias("text"),
        )
    return merges, cur


def _bpe_merge_table(merges: list[DataFrame]) -> DataFrame:
    """Union the per-step one-row merge DataFrames from ``_bpe_learn``
    into the (step, tok_a, tok_b, pair_count) merge table (ADVICE r6:
    single definition for the three former copy-paste sites).

    Raises a descriptive error on zero learned merges (empty corpus, or
    a corpus where no adjacent pair repeats) instead of reduce()'s bare
    TypeError — ADVICE r7."""
    from functools import reduce

    if not merges:
        raise ValueError(
            "BPE learned zero merges (empty corpus or no repeated adjacent "
            "token pair) — no merge table to build"
        )
    return reduce(DataFrame.unionAll, merges)


def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pair-merge vocabulary induction at word grain: BPE_MERGES
    iterations of (count adjacent token pairs across the corpus -> take
    the most frequent pair, ties -> lexicographic -> merge every
    left-to-right occurrence corpus-wide).  Output is the learned merge
    table (step, tok_a, tok_b, pair_count) — the artifact a tokenizer
    training run ships.

    The merge step is CROSS-ENGINE-DETERMINISTIC via a string rewrite
    both engines implement identically (left-to-right, non-overlapping
    replace): the text is space-doubled and padded so every token
    boundary carries two spaces, the pattern ' x  y ' consumes one space
    on each side, and the replacement ' x+y ' restores them — which
    makes consecutive matches ("x y x y") merge BOTH pairs, exactly the
    greedy token-level BPE semantics, and overlapping chains ("a a a")
    merge left-to-right once.

    Scale: each iteration is one pair-count aggregate (map-side
    combined, shuffling (x, y) token pairs) + a corpus-wide projection
    (the replace chain — no shuffle).  The chosen pair is a ONE-ROW
    localCheckpoint'd broadcast, so step k's lineage is the raw corpus
    plus k tiny broadcasts: T merges cost T scans.  At 100 TB you would
    persist the rewritten corpus between steps; the learned-merge logic
    is unchanged."""
    merges, _ = _bpe_learn(spark, sf_dir)
    return _bpe_merge_table(merges)


def text_bpe_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merges APPLIED: per document, token count before and
    after the BPE_MERGES rewrites and the fraction of positions saved —
    the panel that decides whether the induced vocabulary pays for
    itself (sequence-length reduction is the whole point of BPE in a
    training pipeline).  Rides the same lineage as text_bpe_merges (the
    rewritten corpus is the loop's other output); one extra projection +
    a doc-keyed join, no new corpus scans."""
    _, final = _bpe_learn(spark, sf_dir)
    raw = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens_raw")
    )
    enc = final.select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens_bpe")
    )
    return raw.join(enc, "doc_id").select(
        "doc_id",
        "n_tokens_raw",
        "n_tokens_bpe",
        (
            (F.col("n_tokens_raw") - F.col("n_tokens_bpe")).cast("double")
            / F.col("n_tokens_raw")
        ).alias("saved_ratio"),
    )


def bpe_merge_array(merges_df: DataFrame) -> DataFrame:
    """The learned merge table as a ONE-ROW static relation holding the
    step-ordered array of (step, tok_a, tok_b) structs — the broadcastable
    tokenizer artifact ``apply_bpe_merges`` consumes."""
    return merges_df.agg(
        F.array_sort(
            F.collect_list(F.struct("step", "tok_a", "tok_b"))
        ).alias("bpe_merges")
    )


def apply_bpe_merges(
    df: DataFrame, text_col: str, merges_one_row: DataFrame,
    out_col: str = "bpe_text",
) -> DataFrame:
    """Apply a learned BPE merge table as a PURE PROJECTION (VERDICT r5
    #3): fold the step-ordered merge array over the text with the exact
    left-to-right space-doubling rewrite ``_bpe_learn`` trains with, so
    apply(raw) == the training loop's rewritten corpus
    (``test_bpe_apply_matches_training_rewrite``).

    Because tokenization is a projection over a broadcast one-row static
    side, this works UNCHANGED on streaming DataFrames — the learned
    tokenizer lifted onto the live envelope path (stream-static
    broadcast join; ``test_streaming_bpe_apply_matches_batch``), the
    converter-as-projection shape of AMQPBodyFunction.scala:29-41.

    Scale: T merges = T string rewrites fused into ONE projection in a
    single stage — no shuffle, no per-step corpus scan (unlike training,
    which must re-count pairs between steps); the merge table is one
    broadcast row."""

    def step(acc, m):
        doubled = F.concat(
            F.lit(" "), F.replace(acc, F.lit(" "), F.lit("  ")), F.lit(" ")
        )
        pat = F.concat(
            F.lit(" "), m["tok_a"], F.lit("  "), m["tok_b"], F.lit(" ")
        )
        rep = F.concat(
            F.lit(" "), m["tok_a"], F.lit(BPE_JOIN), m["tok_b"], F.lit(" ")
        )
        return F.trim(
            F.replace(F.replace(doubled, pat, rep), F.lit("  "), F.lit(" "))
        )

    return (
        df.join(F.broadcast(merges_one_row))
        .withColumn(
            out_col,
            F.aggregate(
                F.col("bpe_merges"), F.col(text_col).cast("string"), step
            ),
        )
        .drop("bpe_merges")
    )


def text_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The effective vocabulary AFTER applying the learned merges via the
    serving-path projection (``apply_bpe_merges``, the same expression
    the streaming lift runs): per final token, its corpus frequency and
    whether it is a learned merge product.  This attests the APPLY path
    end-to-end through the driver's oracle — the oracle rewrites the
    corpus with the identical per-step replace chain, so a divergence
    between apply() and the training rewrite would hash-mismatch here.

    Scale: training's T pair-count aggregates as in text_bpe_merges,
    then ONE apply scan (no shuffle) + one token-count aggregate."""
    merges, _ = _bpe_learn(spark, sf_dir)
    mdf = _bpe_merge_table(merges)
    marr = bpe_merge_array(mdf.select("step", "tok_a", "tok_b"))
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    applied = apply_bpe_merges(docs, "text", marr)
    return (
        applied.select(F.explode(F.split("bpe_text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n_occurrences"))
        .withColumn("is_merged", F.col("token").contains(BPE_JOIN))
    )


def _bpe_vocab_oracle() -> str:
    parts = ["t0 AS (SELECT doc_id, text FROM documents)"]
    for s in range(1, BPE_MERGES + 1):
        parts.append(f"""p{s} AS (
  SELECT toks[i] AS x, toks[i + 1] AS y, count(*) AS c
  FROM (SELECT string_split(text, ' ') AS toks FROM t{s - 1}) d,
       UNNEST(range(1, len(toks))) AS u(i)
  GROUP BY 1, 2),
b{s} AS (SELECT x, y, c FROM p{s} ORDER BY c DESC, x, y LIMIT 1),
t{s} AS (
  SELECT doc_id,
         trim(replace(replace(' ' || replace(text, ' ', '  ') || ' ',
                              ' ' || b.x || '  ' || b.y || ' ',
                              ' ' || b.x || '{BPE_JOIN}' || b.y || ' '),
                      '  ', ' ')) AS text
  FROM t{s - 1}, b{s} b)""")
    return ("WITH " + ",\n".join(parts) + f"""
SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences,
       contains(token, '{BPE_JOIN}') AS is_merged
FROM (SELECT unnest(string_split(text, ' ')) AS token FROM t{BPE_MERGES})
GROUP BY 1
""")


def _bpe_oracle() -> str:
    parts = ["t0 AS (SELECT doc_id, text FROM documents)"]
    selects = []
    for s in range(1, BPE_MERGES + 1):
        parts.append(f"""p{s} AS (
  SELECT toks[i] AS x, toks[i + 1] AS y, count(*) AS c
  FROM (SELECT string_split(text, ' ') AS toks FROM t{s - 1}) d,
       UNNEST(range(1, len(toks))) AS u(i)
  GROUP BY 1, 2),
b{s} AS (SELECT x, y, c FROM p{s} ORDER BY c DESC, x, y LIMIT 1),
t{s} AS (
  SELECT doc_id,
         trim(replace(replace(' ' || replace(text, ' ', '  ') || ' ',
                              ' ' || b.x || '  ' || b.y || ' ',
                              ' ' || b.x || '{BPE_JOIN}' || b.y || ' '),
                      '  ', ' ')) AS text
  FROM t{s - 1}, b{s} b)""")
        selects.append(
            f"SELECT {s} AS step, x AS tok_a, y AS tok_b,"
            f" CAST(c AS BIGINT) AS pair_count FROM b{s}"
        )
    return (
        "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)
    )


def _bpe_compression_oracle() -> str:
    parts = ["t0 AS (SELECT doc_id, text FROM documents)"]
    for s in range(1, BPE_MERGES + 1):
        parts.append(f"""p{s} AS (
  SELECT toks[i] AS x, toks[i + 1] AS y, count(*) AS c
  FROM (SELECT string_split(text, ' ') AS toks FROM t{s - 1}) d,
       UNNEST(range(1, len(toks))) AS u(i)
  GROUP BY 1, 2),
b{s} AS (SELECT x, y, c FROM p{s} ORDER BY c DESC, x, y LIMIT 1),
t{s} AS (
  SELECT doc_id,
         trim(replace(replace(' ' || replace(text, ' ', '  ') || ' ',
                              ' ' || b.x || '  ' || b.y || ' ',
                              ' ' || b.x || '{BPE_JOIN}' || b.y || ' '),
                      '  ', ' ')) AS text
  FROM t{s - 1}, b{s} b)""")
    return ("WITH " + ",\n".join(parts) + f"""
SELECT r.doc_id,
       len(string_split(r.text, ' ')) AS n_tokens_raw,
       len(string_split(e.text, ' ')) AS n_tokens_bpe,
       CAST(len(string_split(r.text, ' ')) - len(string_split(e.text, ' '))
            AS DOUBLE) / len(string_split(r.text, ' ')) AS saved_ratio
FROM t0 r JOIN t{BPE_MERGES} e USING (doc_id)
""")


def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level language-ID confusion matrix between TWO independent
    heuristic classifiers (the disagreement panel a curation pipeline
    reviews before trusting either label): per (true lang, prediction A,
    prediction B) cell, the document count.

    - Classifier A (function-word): 'en' iff any stopword occurs — the
      text_lang_id rule.
    - Classifier B (dominant-token): 'en' iff the doc's single most
      frequent token (ties → lexicographically smallest, so the mode is
      deterministic in both engines) is a stopword.

    On this shared-vocabulary synthetic corpus neither classifier can be
    *right*; what the matrix exercises is the machinery — two per-row
    classifiers fused into one scan, a 3-key cell aggregate, and
    off-diagonal cells that actually occur (docs where a stopword
    appears but does not dominate split A and B).

    Scale: both classifiers are pure array expressions over the bound
    token array (no shuffle, no UDF); the only Exchange is the
    |cells|-row final aggregate.  The mode computation is O(u·n) per doc
    (u = within-doc distinct tokens) — bounded by document length, not
    corpus size."""
    d = (
        _docs(spark, sf_dir)
        .where(F.size(tokens()) >= 1)
        .withColumn("toks", tokens())
        .withColumn("dt", F.array_distinct(tokens()))
    )
    t = F.col("toks")
    mode = F.array_min(
        F.transform(
            F.col("dt"),
            lambda y: F.struct(
                (
                    -F.size(F.filter(t, lambda x: x == y))
                ).alias("negcnt"),
                y.alias("tok"),
            ),
        )
    )["tok"]
    pred_fw = (
        F.when(stopword_count(t) > 0, F.lit("en"))
        .otherwise(F.lit("unknown"))
        .alias("pred_fw")
    )
    pred_mode = (
        F.when(mode.isin(*STOPWORDS), F.lit("en"))
        .otherwise(F.lit("unknown"))
        .alias("pred_mode")
    )
    return (
        d.select("lang", pred_fw, pred_mode)
        .groupBy("lang", "pred_fw", "pred_mode")
        .agg(F.count("*").alias("n_docs"))
    )


_LANG_CONFUSION_SQL = f"""
WITH t AS (
  SELECT lang, string_split(text, ' ') AS toks FROM documents
  WHERE len(string_split(text, ' ')) >= 1
),
sc AS (
  SELECT lang, toks,
         len(list_filter(toks, x -> x IN ({_SW_LIST}))) AS n_stop,
         list_max(list_transform(list_distinct(toks),
                  y -> len(list_filter(toks, x -> x = y)))) AS mc
  FROM t
),
md AS (
  SELECT lang, n_stop,
         list_min(list_filter(list_distinct(toks),
                  y -> len(list_filter(toks, x -> x = y)) = mc)) AS mode
  FROM sc
)
SELECT lang,
       CASE WHEN n_stop > 0 THEN 'en' ELSE 'unknown' END AS pred_fw,
       CASE WHEN mode IN ({_SW_LIST}) THEN 'en' ELSE 'unknown' END
         AS pred_mode,
       count(*) AS n_docs
FROM md GROUP BY 1, 2, 3
"""


def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-style readability signal: syllables estimated as vowel
    groups (``[aeiou]+`` runs — the standard cheap heuristic), sentences
    as fixed 15-token pseudo-sentences (the synthetic corpus has no
    punctuation; real corpora would split on sentence terminators), and
    the reading-ease formula over those two rates.  Used as a curation
    filter band: machine-generated and boilerplate text skews to extreme
    scores.

    Pure per-row projection — fuses into the scan, shuffles nothing.
    The vowel-run regex is evaluated once per document (regexp_extract_all
    → size), not per token."""
    d = _docs(spark, sf_dir)
    t = tokens()
    n_tok = F.size(t)
    n_syll = F.size(
        F.regexp_extract_all(F.col("text"), F.lit("[aeiou]+"), F.lit(0))
    )
    n_sent = F.ceil(n_tok.cast("double") / F.lit(15.0)).cast("long")
    wps = n_tok.cast("double") / n_sent.cast("double")
    spw = n_syll.cast("double") / n_tok.cast("double")
    flesch = (
        F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    )
    return d.where(n_tok >= 1).select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_syll.alias("n_syllables"),
        n_sent.alias("n_sentences"),
        wps.alias("words_per_sentence"),
        spw.alias("syllables_per_word"),
        flesch.alias("flesch_score"),
    )


_READABILITY_SQL = """
WITH t AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tok,
         len(regexp_extract_all(text, '[aeiou]+')) AS n_syll
  FROM documents
)
SELECT doc_id,
       n_tok AS n_tokens,
       n_syll AS n_syllables,
       CAST(ceil(CAST(n_tok AS DOUBLE) / 15.0) AS BIGINT) AS n_sentences,
       CAST(n_tok AS DOUBLE)
         / CAST(CAST(ceil(CAST(n_tok AS DOUBLE) / 15.0) AS BIGINT) AS DOUBLE)
         AS words_per_sentence,
       CAST(n_syll AS DOUBLE) / CAST(n_tok AS DOUBLE) AS syllables_per_word,
       206.835
         - 1.015 * (CAST(n_tok AS DOUBLE)
             / CAST(CAST(ceil(CAST(n_tok AS DOUBLE) / 15.0) AS BIGINT)
                    AS DOUBLE))
         - 84.6 * (CAST(n_syll AS DOUBLE) / CAST(n_tok AS DOUBLE))
         AS flesch_score
FROM t
WHERE n_tok >= 1
"""


def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps'-law) curve at BIGRAM grain: the corpus in
    16 md5-ordered slices — new distinct token bigrams first introduced in
    each slice and the cumulative vocabulary.  The dataset-card panel that
    shows whether a corpus keeps contributing new phrasing or has gone
    stale.

    Two deliberate choices keep the curve non-vacuous (ADVICE r4: the
    token-grain/doc-id-decile version put the whole 31-token synthetic
    vocabulary in decile 0, so the bucketing was never exercised):
    - the vocabulary unit is the adjacent-token BIGRAM (~900 distinct in
      the fixture vs 31 unigrams) — rare combinations keep appearing deep
      into the corpus, which is the regime Heaps' law describes;
    - corpus presentation order is the md5-shuffled doc order (key =
      md5(doc_id) || '-' || doc_id, a deterministic total order), and a
      doc's slice is the first hex digit of that key — 16 uniform buckets
      with no global rank, no max-id join, no window over the corpus.

    Scale: each bigram contributes once at its first-occurrence key
    (min(key) per bigram — one shuffle of (bigram, key) pairs with
    map-side combine); the running sum windows over 16 rows."""
    from pyspark.sql import Window as W

    d = _docs(spark, sf_dir).withColumn("toks", tokens())
    t = F.col("toks")
    key = F.concat(
        F.md5(F.col("doc_id").cast("string")),
        F.lit("-"),
        F.col("doc_id").cast("string"),
    )
    bigrams = F.transform(
        F.when(F.size(t) >= 2, F.sequence(F.lit(1), F.size(t) - 1)).otherwise(
            F.array().cast("array<int>")
        ),
        lambda i: F.concat_ws(
            " ", F.element_at(t, i), F.element_at(t, i + 1)
        ),
    )
    # r15 (guide §2.3 narrower types + map-side aggregation): only the
    # FIRST HEX DIGIT of each bigram's min-key is ever consumed, and the
    # lexicographic min's first char IS the min of first chars (the
    # first char is the key's most significant position, and hex digits
    # order identically as chars and as numbers).  Aggregating
    # min(<int digit>) instead of min(<33+-char string>) shuffles 4
    # bytes per bigram instead of the key, and — min(string) not being
    # hash-aggregable — turns the partial+final SortAggregate pair
    # (sort the whole exploded bigram relation) into a map-side
    # combining HashAggregate.  Values are integer-exact; the bucket
    # label round-trips bijectively via hex().
    bucket_int = F.conv(key.substr(1, 1), 16, 10).cast("int")
    ex = d.select(
        bucket_int.alias("bi"), F.explode(F.array_distinct(bigrams)).alias("big")
    )
    first = ex.groupBy("big").agg(F.min("bi").alias("fb"))
    per = (
        first.select(F.lower(F.hex("fb")).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_new_bigrams"))
    )
    w = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
    return per.withColumn("cum_vocab", F.sum("n_new_bigrams").over(w))


_VOCAB_GROWTH_SQL = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
ex AS (
  SELECT md5(CAST(doc_id AS VARCHAR)) || '-' || CAST(doc_id AS VARCHAR) AS k,
         toks[i] || ' ' || toks[i + 1] AS big
  FROM t, UNNEST(range(1, len(toks))) AS u(i)
),
first AS (SELECT big, min(k) AS fk FROM ex GROUP BY big),
per AS (
  SELECT substring(fk, 1, 1) AS bucket, count(*) AS n_new_bigrams
  FROM first GROUP BY 1
)
SELECT bucket, n_new_bigrams,
       CAST(sum(n_new_bigrams) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS cum_vocab
FROM per
"""


def text_unicode_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding QA before training: per-document unicode class census —
    codepoints total, ASCII, astral-plane (> U+FFFF), combining marks
    (``\\p{M}``), format controls (``\\p{Cf}``: ZWSP/ZWJ/BOM/RTL marks),
    C0/C1 controls (``\\p{Cc}``), replacement chars (U+FFFD, the scar a
    lossy transcode leaves), and the ASCII ratio.  The panel a 100 TB
    corpus needs to find mojibake, zero-width spam and transcode damage
    BEFORE tokenization (the r13 ``unicode`` degenerate corpus is
    exactly the input class this flags).

    Counting idiom is symmetric across engines: ``length(text) -
    length(regexp_replace(text, class, ''))`` — both engines count
    codepoints and both regex dialects (Java, RE2) support ``\\x{..}``
    and one/two-letter ``\\p`` general categories; verified char-exact
    against Python unicodedata ground truth on all 26 adversarial texts
    of the unicode + pathological corpora.  Single-pass projection, no
    shuffle, whole-stage codegen."""
    d = _docs(spark, sf_dir)

    def cnt(pat: str):
        return F.length("text") - F.length(F.regexp_replace("text", pat, ""))

    n_chars = F.length("text")
    return d.select(
        "doc_id",
        n_chars.alias("n_chars"),
        cnt(r"[\x00-\x7F]").alias("n_ascii"),
        cnt(r"[\x{10000}-\x{10FFFF}]").alias("n_astral"),
        cnt(r"\p{M}").alias("n_marks"),
        cnt(r"\p{Cf}").alias("n_format_controls"),
        cnt(r"\p{Cc}").alias("n_controls"),
        cnt("�").alias("n_replacement"),
        F.when(
            n_chars > 0,
            cnt(r"[\x00-\x7F]").cast("double") / n_chars,
        ).alias("ascii_ratio"),
    )


_UNICODE_PROFILE_SQL = """
SELECT doc_id,
       length(text) AS n_chars,
       length(text) - length(regexp_replace(text, '[\\x00-\\x7F]', '', 'g'))
         AS n_ascii,
       length(text)
         - length(regexp_replace(text, '[\\x{10000}-\\x{10FFFF}]', '', 'g'))
         AS n_astral,
       length(text) - length(regexp_replace(text, '\\p{M}', '', 'g'))
         AS n_marks,
       length(text) - length(regexp_replace(text, '\\p{Cf}', '', 'g'))
         AS n_format_controls,
       length(text) - length(regexp_replace(text, '\\p{Cc}', '', 'g'))
         AS n_controls,
       length(text) - length(regexp_replace(text, '\\x{FFFD}', '', 'g'))
         AS n_replacement,
       CASE WHEN length(text) > 0 THEN
         CAST(length(text)
              - length(regexp_replace(text, '[\\x00-\\x7F]', '', 'g'))
              AS DOUBLE) / length(text)
       END AS ascii_ratio
FROM documents
"""


# The DROP class of control characters: \p{Cc} MINUS ordinary document
# whitespace (\t U+0009, \n U+000A, \r U+000D) — a multi-line or
# tab-indented document is normal text, not transcode damage (ADVICE
# r13: classifying on bare \p{Cc} would discard most of a real corpus;
# the sweeps stayed green only because the test corpora are
# single-line).  Spelled as one explicit codepoint-range class used
# VERBATIM by both engines (Java regex and DuckDB RE2 both read
# \xNN ranges identically), so equivalence is by construction.
_BAD_CONTROL_CLASS = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F]"


def text_encoding_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation rule the unicode census feeds: per-document
    keep/drop verdict with the FIRST failing rule as the reason —
    replacement chars (transcode damage), raw C0/C1 controls (minus
    ordinary \\t/\\n/\\r document whitespace — see _BAD_CONTROL_CLASS),
    format-control spam (zero-width flooding), or a sub-50% ASCII ratio
    on a ≥20-char doc (mojibake heuristic; CJK corpora would tune this
    threshold per-domain).  NULL/empty texts drop as 'empty'.  Same
    single-pass projection shape as text_unicode_profile."""
    d = _docs(spark, sf_dir)

    def cnt(pat: str):
        return F.length("text") - F.length(F.regexp_replace("text", pat, ""))

    n_chars = F.length("text")
    n_ascii = cnt(r"[\x00-\x7F]")
    reason = (
        F.when(n_chars.isNull() | (n_chars == 0), F.lit("empty"))
        .when(cnt("�") > 0, F.lit("replacement_chars"))
        .when(cnt(_BAD_CONTROL_CLASS) > 0, F.lit("control_chars"))
        .when(cnt(r"\p{Cf}") >= 3, F.lit("format_control_spam"))
        .when(
            (n_chars >= 20)
            & (n_ascii.cast("double") / n_chars < 0.5),
            F.lit("low_ascii_ratio"),
        )
        .otherwise(F.lit("ok"))
    )
    # nested select so the CASE chain (5 regex passes) evaluates once
    # per row, not once per output column (no CSE inside a projection)
    return d.select("doc_id", reason.alias("reason")).select(
        "doc_id",
        "reason",
        (F.col("reason") == "ok").alias("keep"),
    )


_ENCODING_POLICY_SQL = f"""
SELECT doc_id, reason, reason = 'ok' AS keep FROM (
  SELECT doc_id,
    CASE
      WHEN text IS NULL OR length(text) = 0 THEN 'empty'
      WHEN length(text)
           - length(regexp_replace(text, '\\x{{FFFD}}', '', 'g')) > 0
        THEN 'replacement_chars'
      WHEN length(text)
           - length(regexp_replace(text,
               '{_BAD_CONTROL_CLASS}', '', 'g')) > 0
        THEN 'control_chars'
      WHEN length(text)
           - length(regexp_replace(text, '\\p{{Cf}}', '', 'g')) >= 3
        THEN 'format_control_spam'
      WHEN length(text) >= 20
           AND CAST(length(text)
                - length(regexp_replace(text, '[\\x00-\\x7F]', '', 'g'))
                AS DOUBLE) / length(text) < 0.5
        THEN 'low_ascii_ratio'
      ELSE 'ok'
    END AS reason
  FROM documents)
"""


QUERIES = {
    "text_unicode_profile": text_unicode_profile,
    "text_encoding_policy": text_encoding_policy,
    "text_bigram_counts": text_bigram_counts,
    "text_vocab_growth": text_vocab_growth,
    "text_gopher_rules": text_gopher_rules,
    "corpus_len_histogram": corpus_len_histogram,
    "text_token_entropy": text_token_entropy,
    "text_unigram_logprob": text_unigram_logprob,
    "text_doc_frequency": text_doc_frequency,
    "text_token_stats": text_token_stats,
    "text_quality_score": text_quality_score,
    "text_lang_id": text_lang_id,
    "text_lang_confusion": text_lang_confusion,
    "text_bpe_merges": text_bpe_merges,
    "text_bpe_compression": text_bpe_compression,
    "text_bpe_vocab": text_bpe_vocab,
    "text_fingerprint": text_fingerprint,
    "text_winnowing_fingerprints": text_winnowing_fingerprints,
    "text_simhash": text_simhash,
    "text_tfidf_topk": text_tfidf_topk,
    "text_readability": text_readability,
}

ORACLES = {
    "text_unicode_profile": _UNICODE_PROFILE_SQL,
    "text_encoding_policy": _ENCODING_POLICY_SQL,
    "text_bigram_counts": _BIGRAM_SQL,
    "text_gopher_rules": _GOPHER_SQL,
    "corpus_len_histogram": _LEN_HIST_SQL,
    "text_token_entropy": _ENTROPY_SQL,
    "text_doc_frequency": _DOC_FREQ_SQL,
    "text_winnowing_fingerprints": _WINNOW_SQL,
    "text_token_stats": _TOKEN_STATS_SQL,
    "text_quality_score": _QUALITY_SQL,
    "text_lang_id": _LANG_SQL,
    "text_lang_confusion": _LANG_CONFUSION_SQL,
    "text_bpe_merges": _bpe_oracle(),
    "text_bpe_compression": _bpe_compression_oracle(),
    "text_bpe_vocab": _bpe_vocab_oracle(),
    "text_fingerprint": _FINGERPRINT_SQL,
    "text_simhash": _simhash_oracle(),
    "text_tfidf_topk": _TFIDF_SQL,
    "text_unigram_logprob": _UNIGRAM_LOGPROB_SQL,
    "text_readability": _READABILITY_SQL,
    "text_vocab_growth": _VOCAB_GROWTH_SQL,
}
