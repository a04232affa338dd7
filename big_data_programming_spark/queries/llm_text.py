"""Text-analysis queries over the document corpus (SURVEY.md §2.11
L4/L5 + the training-data-pipeline text operators: quality scoring,
language ID, token counting, fingerprinting)."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_programming_spark.functions.canonical import (
    DEC,
    davg,
    davg_sql,
    dbl_sql,
    dec_sql,
    dsum,
    dsum_sql,
)
from big_data_programming_spark.operators.text import (
    BPE_ISH_PATTERN,
    MAX_TOKEN_FREQ_SQL,
    QUALITY_ORACLE_SQL,
    bpe_ish_tokens,
    l5i_weights_sql,
    max_token_freq,
    quality_features,
    quality_logit,
    quality_logit_sql,
    shingle_fingerprint,
    shingle_hashes_sql,
    stopword_count,
    stopword_count_sql,
    tokenize,
    unigram_bigram_features,
    unigram_bigram_features_sql,
    with_quality_weights,
    word_ngrams,
    word_ngrams_sql,
)
from big_data_programming_spark.operators.dedup import (
    SIMHASH_ORACLE_SQL,
    normalize_text,
    simhash,
)
from big_data_programming_spark.operators.graph import cut, fixpoint
from big_data_programming_spark.registry import register
from big_data_programming_spark.sources.loaders import load


@register(
    "l4_text_stats",
    oracle=f"""
SELECT lang, source,
       COUNT(*) AS n_docs,
       {davg_sql('n_chars')} AS avg_chars,
       CAST(SUM(LEN(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars
FROM documents
GROUP BY lang, source
""",
    tags=("L4", "A1", "F4"),
)
def l4_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile: doc counts, length stats, token totals per
    (lang, source) slice — the first thing a data pipeline reports."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        davg("n_chars").alias("avg_chars"),
        F.sum(F.size(tokenize(F.col("text")))).alias("total_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "l5_quality_filter",
    oracle=QUALITY_ORACLE_SQL + " WHERE quality_score >= 0.7 AND n_tokens >= 20",
    tags=("L5", "P2", "F4"),
)
def l5_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate: keep documents whose composite score clears the
    bar (operators/text.py:quality_features)."""
    d = load(spark, sf_dir, "documents")
    return quality_features(d).filter(
        (F.col("quality_score") >= 0.7) & (F.col("n_tokens") >= 20)
    )


@register(
    "l4b_token_counting",
    oracle=f"""
SELECT doc_id,
       LEN(string_split(text, ' ')) AS ws_tokens,
       LEN(regexp_extract_all(LOWER(text), '{BPE_ISH_PATTERN}')) AS bpe_ish_tokens,
       CAST(CEIL(n_chars / 4.0) AS BIGINT) AS chars_per_4_estimate
FROM documents
""",
    tags=("L4", "F1"),
)
def l4b_token_counting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace, BPE-ish regex
    pre-tokenization, and the chars/4 heuristic LLM pipelines use for
    quick budget estimates."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(tokenize(F.col("text"))).alias("ws_tokens"),
        F.size(bpe_ish_tokens(F.col("text"))).alias("bpe_ish_tokens"),
        F.ceil(F.col("n_chars") / 4.0).cast("bigint").alias("chars_per_4_estimate"),
    )


@register(
    "l4c_tfidf_top_terms",
    oracle="""
WITH tf AS (
  SELECT lang, t.token, COUNT(*) AS term_freq
  FROM documents, UNNEST(string_split(text, ' ')) AS t(token)
  GROUP BY lang, t.token
), df AS (
  SELECT token, COUNT(*) AS doc_freq
  FROM (SELECT DISTINCT doc_id, t.token
        FROM documents, UNNEST(string_split(text, ' ')) AS t(token))
  GROUP BY token
), n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT lang, token, term_freq,
       ROUND(term_freq * LN(CAST(n.n_docs AS DOUBLE) / doc_freq), 6) AS tfidf
FROM tf JOIN df USING (token) CROSS JOIN n
QUALIFY ROW_NUMBER() OVER (PARTITION BY lang ORDER BY tfidf DESC, token) <= 5
""",
    tags=("L4", "W6", "F4"),
)
def l4c_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF-lite term ranking: top-5 distinguishing terms per lang.

    Single-pass shape: the corpus is tokenized/exploded ONCE into
    per-(doc, token) counts, which one more aggregation folds to the
    (lang, token) grain carrying BOTH sums: term_freq and the per-slice
    doc count. tf is that table; df derives from it by a second, tiny
    (token-grain) aggregation — each doc has exactly one lang, so
    doc_freq(token) = Σ_lang per-(lang,token) doc counts. The naive
    formulation explodes the corpus twice (once for tf, once for df);
    the r9-era fix shared the per-doc pre-aggregate between the tf and
    df subtrees, but column pruning specializes the two copies (df's
    drops cnt) so runtime exchange reuse never fires — measured r11:
    THREE executed scans / two full tokenize passes. Deriving df from
    the (lang,token) aggregate makes the single corpus pass structural:
    2 executed scans (corpus once + the skinny n_docs count), no
    materialization needed."""
    d = load(spark, sf_dir, "documents")
    n = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))  # 1-row dim, broadcast
    per_doc = (
        d.select("doc_id", "lang", F.explode(tokenize(F.col("text"))).alias("token"))
        .groupBy("doc_id", "lang", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # Lineage cut (the g1/g3/l5j idiom): tf and df both consume
    # this vocab-sized table, and WITHOUT the cut the optimizer's
    # column pruning specializes each consumer's copy of the aggregate
    # (tf keeps term_freq, df keeps slice_docs), so the subtrees stop
    # being identical, exchange reuse never fires, and the corpus is
    # tokenized twice (measured: 3 executed scans / 2 Generate nodes).
    # Materializing ≈|vocab|×|langs| rows once makes the single corpus
    # pass structural: 2 executed scans, runtime-pinned in
    # tests/test_plans.py. The aggregate's shuffle stage runs while the
    # cut is built, so both consumers read that one corpus pass.
    # Accepted cost (r11 advisor): plan-only consumers (explain,
    # profilers) pay the corpus pass at construction.
    lang_token, _ = cut(
        per_doc.groupBy("lang", "token").agg(
            F.sum("cnt").alias("term_freq"),
            F.count(F.lit(1)).alias("slice_docs"),
        )
    )
    tf = lang_token.select("lang", "token", "term_freq")
    df = lang_token.groupBy("token").agg(F.sum("slice_docs").alias("doc_freq"))
    scored = (
        tf.join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(n))
        .select(
            "lang",
            "token",
            "term_freq",
            F.round(F.col("term_freq") * F.log(F.col("n_docs") / F.col("doc_freq")), 6).alias(
                "tfidf"
            ),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.col("tfidf").desc(), F.col("token"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5).drop("rn")


#: (token, language, weight) voting profile. Weights are binary-exact
#: doubles (1.0 / 0.5 / 0.25) so per-group sums are order-independent.
_LANG_PROFILE = [
    ("the", "en", 1.0), ("data", "en", 0.5), ("fast", "en", 0.25),
    ("der", "de", 1.0), ("und", "de", 1.0), ("schnell", "de", 0.5),
    ("el", "es", 1.0), ("datos", "es", 1.0), ("tabla", "es", 0.5),
    ("le", "fr", 1.0), ("vite", "fr", 0.5), ("table", "fr", 0.25),
    ("shuju", "zh", 1.0), ("biao", "zh", 0.5), ("kuai", "zh", 0.25),
]
_LANG_PROFILE_SQL = ", ".join(
    f"('{t}', '{g}', CAST({w} AS DOUBLE))" for t, g, w in _LANG_PROFILE
)


@register(
    "l4d_language_id",
    oracle=f"""
WITH profile(token, plang, weight) AS (
  VALUES {_LANG_PROFILE_SQL}
), scores AS (
  SELECT d.doc_id, p.plang, SUM(p.weight) AS score
  FROM documents d, UNNEST(string_split(d.text, ' ')) AS t(token)
  JOIN profile p ON p.token = t.token
  GROUP BY d.doc_id, p.plang
), best AS (
  SELECT doc_id, plang, score
  FROM scores
  QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, plang) = 1
)
SELECT d.doc_id, d.lang AS actual_lang,
       COALESCE(b.plang, 'unknown') AS predicted_lang,
       COALESCE(b.score, CAST(0.0 AS DOUBLE)) AS best_score
FROM documents d LEFT JOIN best b ON b.doc_id = d.doc_id
""",
    tags=("L5", "L4"),
)
def l4d_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID by token-profile voting: explode tokens, broadcast-
    join a (token, lang, weight) profile, rank per-language scores with
    a total order (score DESC, lang) so prediction is deterministic
    under ties. The fixture corpus is synthetic shared-vocabulary text,
    so the profile is a deterministic demo table; swap in real n-gram
    profiles for natural text — the plan shape (explode → broadcast
    join → hash agg → rank) is the production one."""
    d = load(spark, sf_dir, "documents")
    profile = spark.createDataFrame(_LANG_PROFILE, "token string, plang string, weight double")
    toks = d.select("doc_id", F.explode(tokenize(F.col("text"))).alias("token"))
    scores = (
        toks.join(F.broadcast(profile), "token")
        .groupBy("doc_id", "plang")
        .agg(F.sum("weight").alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("plang"))
    best = scores.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return d.select("doc_id", F.col("lang").alias("actual_lang")).join(
        best, "doc_id", "left"
    ).select(
        "doc_id",
        "actual_lang",
        F.coalesce(F.col("plang"), F.lit("unknown")).alias("predicted_lang"),
        F.coalesce(F.col("score"), F.lit(0.0)).alias("best_score"),
    )


@register(
    "l4e_fingerprint",
    oracle=f"""
SELECT doc_id,
       list_min({shingle_hashes_sql("string_split(text, ' ')")}) AS fingerprint
FROM documents
""",
    tags=("L4", "L2", "F4", "F7"),
)
def l4e_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-window document fingerprint (min-md5 over 8-token
    shingles) — operators/text.py:shingle_fingerprint."""
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", shingle_fingerprint(F.col("text"), k=8).alias("fingerprint"))


@register(
    "l5b_training_data_pipeline",
    oracle="""
WITH gated AS (
  SELECT doc_id, text, lang,
         LEN(string_split(text, ' ')) AS n_tokens
  FROM documents
  WHERE lang IN ('en', 'de', 'es', 'fr') AND n_chars >= 200
), deduped AS (
  SELECT doc_id, lang, n_tokens
  FROM gated
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY md5(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g')))
    ORDER BY doc_id) = 1
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       MIN(doc_id) AS first_doc_id
FROM deduped
GROUP BY lang
""",
    tags=("L1", "L4", "L5", "P2", "U5", "A1"),
)
def l5b_training_data_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline as ONE declarative plan:
    language/length gate → exact dedup (survivor = lowest doc_id) →
    per-language corpus accounting. Catalyst fuses the whole chain:
    the gate is pushdown on the scan, dedup is one hash-partitioned
    window, accounting is one aggregate — three logical stages, two
    shuffles, zero materialization between steps. This is the shape a
    100 TB curation job runs nightly."""
    from pyspark.sql.window import Window

    from big_data_programming_spark.operators.dedup import normalize_text

    d = load(spark, sf_dir, "documents")
    gated = d.filter(
        F.col("lang").isin("en", "de", "es", "fr") & (F.col("n_chars") >= 200)
    ).select("doc_id", "lang", F.size(tokenize(F.col("text"))).alias("n_tokens"), "text")
    w = Window.partitionBy(F.md5(normalize_text(F.col("text")).cast("binary"))).orderBy(
        "doc_id"
    )
    deduped = gated.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return deduped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("doc_id").alias("first_doc_id"),
    )


#: BM25 query terms (all present in the synthetic corpus vocabulary).
_BM25_TERMS = ("spark", "join", "window")


def bm25_scored_sql() -> str:
    """The BM25-scored relation as a SQL fragment (no ORDER/LIMIT):
    ``(doc_id, dl, tf_*, score)`` for every matching document — shared
    by l4k's top-20 oracle and l3m's rank-fusion oracle so the two
    provably score identically."""
    tf_cols = ",\n         ".join(
        f"LEN(list_filter(toks, x -> x = '{t}')) AS tf_{t}" for t in _BM25_TERMS
    )
    df_cols = ",\n         ".join(
        f"SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}" for t in _BM25_TERMS
    )
    score_terms = " + ".join(
        dec_sql(
            f"""ROUND(
            LN((n_docs - df_{t} + 0.5) / (df_{t} + 0.5) + 1.0)
            * (CAST(tf_{t} AS DOUBLE) * 2.2
               / (CAST(tf_{t} AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))), 6)"""
        )
        for t in _BM25_TERMS
    )
    return f"""
WITH base AS (
  SELECT doc_id, LEN(toks) AS dl,
         {tf_cols}
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
),
g AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         {dsum_sql('dl')}
           / COUNT(*) AS avgdl,
         {df_cols}
  FROM base
)
SELECT doc_id, dl,
       {", ".join(f"tf_{t}" for t in _BM25_TERMS)},
       {dbl_sql(score_terms)} AS score
FROM base CROSS JOIN g
WHERE {" + ".join(f"tf_{t}" for t in _BM25_TERMS)} > 0
"""


def _bm25_oracle() -> str:
    return f"""
SELECT * FROM ({bm25_scored_sql()})
ORDER BY score DESC, doc_id
LIMIT 20
"""


@register(
    "l4k_bm25_search",
    oracle=_bm25_oracle(),
    tags=("L4", "L3", "A2", "F4"),
)
def l4k_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 keyword retrieval: top-20 documents for a fixed
    multi-term query, scored with the standard (k1=1.2, b=0.75)
    saturation/length-normalization formula.

    Plan shape: the corpus is scanned ONCE computing per-doc term
    frequencies in-row (array `filter` HOFs — no explode, no shuffle
    of token rows); corpus statistics (N, avgdl, per-term df) reduce
    to a single broadcast row; scoring is then a pure map and the
    top-20 is a TakeOrdered — no global sort. At 100 TB the scan is
    embarrassingly parallel and the only data movement is the one
    statistics row; for a standing query workload the per-doc tf/dl
    row (the `base` relation) is the thing to persist, turning every
    new query into a map + top-k over it. Determinism: avgdl via the
    decimal canon, each term's contribution rounded to 6 dp then
    summed in exact decimal (same component order on both engines)."""
    return (
        bm25_scored(spark, sf_dir)
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
    )


def bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BM25-scored relation ``(doc_id, dl, tf_*, score)`` for every
    document matching >= 1 query term — l4k's body, shared with l3m's
    reciprocal-rank fusion so the sparse leg of the hybrid retriever
    provably scores identically to the standalone BM25 query. Twin of
    :func:`bm25_scored_sql`."""
    d = load(spark, sf_dir, "documents")

    def tf(term: str):
        return F.size(F.filter(tokenize(F.col("text")), lambda x: x == F.lit(term)))

    base = d.select(
        "doc_id",
        F.size(tokenize(F.col("text"))).cast("bigint").alias("dl"),
        *[tf(t).cast("bigint").alias(f"tf_{t}") for t in _BM25_TERMS],
    )
    g = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (dsum("dl") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0)).alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )
    scored = base.crossJoin(F.broadcast(g))

    def term_score(t: str):
        tf = F.col(f"tf_{t}").cast("double")
        df = F.col(f"df_{t}")
        idf = F.log((F.col("n_docs") - df + F.lit(0.5)) / (df + F.lit(0.5)) + F.lit(1.0))
        tfw = tf * F.lit(2.2) / (
            tf + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * F.col("dl").cast("double") / F.col("avgdl"))
        )
        return F.round(idf * tfw, 6).cast(DEC)

    score = term_score(_BM25_TERMS[0])
    for t in _BM25_TERMS[1:]:
        score = score + term_score(t)
    any_tf = F.col(f"tf_{_BM25_TERMS[0]}")
    for t in _BM25_TERMS[1:]:
        any_tf = any_tf + F.col(f"tf_{t}")
    return (
        scored.withColumn("score", score.cast("double"))
        .filter(any_tf > 0)
        .select("doc_id", "dl", *[f"tf_{t}" for t in _BM25_TERMS], "score")
    )


@register(
    "l4o_bigram_novelty",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
e AS (SELECT doc_id, UNNEST({word_ngrams_sql("toks", 2)}) AS bg FROM t),
top AS (SELECT bg FROM e GROUP BY bg ORDER BY COUNT(*) DESC, bg LIMIT 100)
SELECT e.doc_id,
       COUNT(*) AS n_bigrams,
       COUNT(*) FILTER (WHERE e.bg IN (SELECT bg FROM top)) AS n_common,
       CAST(COUNT(*) FILTER (WHERE e.bg IN (SELECT bg FROM top)) AS DOUBLE)
         / COUNT(*) AS common_frac
FROM e GROUP BY 1
""",
    tags=("L4", "A1", "O2", "J8"),
)
def l4o_bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-coverage novelty signal: what fraction of each doc's
    token bigrams fall in the corpus's top-100 — high coverage reads
    as formulaic/templated text, low as novel (or gibberish; paired
    with l4h's repetition signals it separates the two). Deliberately
    log-free — counts and one IEEE division — so the oracle pins every
    bit, unlike a perplexity score whose libm log calls drift across
    engines. Scale shape: bigrams are formed in-row (no shuffle), the
    top-100 aggregate is map-side combined before its exchange, the
    tiny top list broadcasts back, and the per-doc score is one hash
    aggregate — two shuffles total, both over already-reduced data.
    Tie-break at the top-100 boundary is (count DESC, bigram) in both
    engines, so the cut is deterministic."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokenize(F.col("text")).alias("t"))
    exploded = toks.select("doc_id", F.explode(word_ngrams("t", 2)).alias("bg"))
    top = (
        exploded.groupBy("bg")
        .count()
        .orderBy(F.col("count").desc(), "bg")
        .limit(100)
        .select("bg", F.lit(1).alias("is_top"))
    )
    return (
        exploded.join(F.broadcast(top), "bg", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.coalesce(F.col("is_top"), F.lit(0))).alias("n_common"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_common",
            (F.col("n_common").cast("double") / F.col("n_bigrams")).alias(
                "common_frac"
            ),
        )
    )


@register(
    "l4q_vocab_encode",
    oracle="""
WITH toks AS (
  SELECT t.token FROM documents, UNNEST(string_split(text, ' ')) AS t(token)
), vocab AS (
  SELECT token,
         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS token_id,
         COUNT(*) AS token_count
  FROM toks GROUP BY token
)
SELECT d.doc_id, gs.i - 1 AS pos,
       string_split(d.text, ' ')[gs.i] AS token,
       v.token_id, v.token_count
FROM documents d
CROSS JOIN generate_series(1, 10) AS gs(i)
JOIN vocab v ON v.token = string_split(d.text, ' ')[gs.i]
WHERE gs.i <= LEN(string_split(d.text, ' '))
""",
    tags=("L4", "A1", "W1", "J8"),
)
def l4q_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary build + id encoding — the actual 'tokenize
    the corpus' step between curation and training: (1) one
    explode+count pass gives corpus term frequencies; (2) token ids
    are assigned by deterministic frequency rank (count DESC, token
    ASC tiebreak — the canonical most-frequent-gets-smallest-id
    layout); (3) documents re-encode by joining tokens against the
    broadcast vocab (first 10 positions emitted — the verification
    slice). The global rank window runs over the VOCAB (cardinality
    of distinct tokens, ~KB-MB even for 100 TB corpora), never the
    corpus; the encode join broadcasts the same small vocab, so the
    corpus side is one map-side pass. A real tokenizer (BPE) swaps
    into the same shape with merges instead of whole words."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokenize(F.col("text"))).alias("token"))
    w = Window.orderBy(F.col("token_count").desc(), F.col("token"))
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("token_count"))
        .withColumn("token_id", F.row_number().over(w))
    )
    first10 = d.select(
        "doc_id",
        F.posexplode(F.slice(tokenize(F.col("text")), 1, 10)).alias("pos", "token"),
    )
    return first10.join(F.broadcast(vocab), "token").select(
        "doc_id", "pos", "token", "token_id", "token_count"
    )


@register(
    "l5c_curation_funnel",
    oracle=f"""
WITH feats AS ({QUALITY_ORACLE_SQL}),
sig AS ({SIMHASH_ORACLE_SQL}),
base AS (
  SELECT d.doc_id,
         md5(TRIM(regexp_replace(LOWER(d.text), '\\s+', ' ', 'g'))) AS content_hash,
         f.quality_score, f.n_tokens, s.simhash_bits
  FROM documents d
  JOIN feats f USING (doc_id)
  JOIN sig s USING (doc_id)
)
SELECT COUNT(*) AS n_total,
       COUNT(*) FILTER (WHERE quality_score >= 0.7 AND n_tokens >= 20) AS n_quality,
       COUNT(DISTINCT CASE WHEN quality_score >= 0.7 AND n_tokens >= 20
                           THEN content_hash END) AS n_exact_unique,
       COUNT(DISTINCT CASE WHEN quality_score >= 0.7 AND n_tokens >= 20
                           THEN simhash_bits END) AS n_simhash_unique
FROM base
""",
    tags=("L5", "L1", "L2", "A3"),
)
def l5c_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-funnel accounting — the observability rollup every
    training-data pipeline publishes: corpus size, survivors of the
    quality gate (l5 criteria), exact-unique content among survivors
    (l1's hash), and SimHash-signature-unique content (l2b's
    16-bit signature as the near-dup collapse). The stage counts are
    monotone non-increasing by construction, so a regression anywhere
    upstream (a gate silently widening, a hash colliding) shows up as
    an inversion. One pass over documents computes flags, hash, and
    signature per doc; a single aggregate emits all four counts —
    conditional distinct aggregates instead of four pipeline reruns
    (the a23 FILTER-clause discipline applied to pipeline metrics)."""
    d = load(spark, sf_dir, "documents")
    flags = quality_features(d).select("doc_id", "quality_score", "n_tokens")
    sig = simhash(d)
    base = (
        d.select(
            "doc_id",
            F.md5(normalize_text(F.col("text")).cast("binary")).alias("content_hash"),
        )
        .join(flags, "doc_id")
        .join(sig, "doc_id")
    )
    passing = (F.col("quality_score") >= 0.7) & (F.col("n_tokens") >= 20)
    return base.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(passing, True)).alias("n_quality"),
        F.count_distinct(F.when(passing, F.col("content_hash"))).alias("n_exact_unique"),
        F.count_distinct(F.when(passing, F.col("simhash_bits"))).alias("n_simhash_unique"),
    )


@register(
    "l5d_gopher_gate",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), freq AS (
  {MAX_TOKEN_FREQ_SQL}
), feats AS (
  SELECT doc_id,
         CAST(LEN(t) AS BIGINT) AS n_tokens,
         CAST(list_reduce(list_transform(t, x -> LENGTH(x)), (a, b) -> a + b) AS DOUBLE)
           / LEN(t) AS mean_word_len,
         CAST({stopword_count_sql("t")} AS BIGINT) AS stop_count,
         COALESCE(
           CAST(LEN({word_ngrams_sql("t", 2)})
                - LEN(list_distinct({word_ngrams_sql("t", 2)})) AS DOUBLE)
             / NULLIF(LEN(t) - 1, 0), 0) AS dup_bigram_frac
  FROM toks
), rules AS (
  SELECT f.doc_id, f.n_tokens, f.mean_word_len, f.stop_count, f.dup_bigram_frac,
         CAST(fr.max_freq AS DOUBLE) / f.n_tokens AS top_token_frac,
         f.n_tokens BETWEEN 20 AND 2000 AS rule_word_count,
         f.mean_word_len BETWEEN 3.0 AND 10.0 AS rule_mean_word_len,
         f.stop_count >= 2 AS rule_stopword,
         CAST(fr.max_freq AS DOUBLE) / f.n_tokens <= 0.125 AS rule_top_token,
         f.dup_bigram_frac <= 0.08 AS rule_dup_bigram
  FROM feats f JOIN freq fr ON f.doc_id = fr.doc_id
)
SELECT doc_id, n_tokens, mean_word_len, top_token_frac, dup_bigram_frac,
       rule_word_count, rule_mean_word_len, rule_stopword, rule_top_token,
       rule_dup_bigram,
       CAST((CASE WHEN rule_word_count THEN 0 ELSE 1 END)
            + (CASE WHEN rule_mean_word_len THEN 0 ELSE 1 END)
            + (CASE WHEN rule_stopword THEN 0 ELSE 1 END)
            + (CASE WHEN rule_top_token THEN 0 ELSE 1 END)
            + (CASE WHEN rule_dup_bigram THEN 0 ELSE 1 END) AS BIGINT) AS n_rules_failed,
       rule_word_count AND rule_mean_word_len AND rule_stopword
         AND rule_top_token AND rule_dup_bigram AS keep
FROM rules
""",
    tags=("L5", "L4", "A1", "F4"),
)
def l5d_gopher_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style composite quality gate (the published rule-battery
    shape of Rae et al. 2021 §A1.1, adapted to this corpus's
    lowercase space-separated text): per-document named boolean rules
    — word-count bounds, mean-word-length bounds, minimum stopword
    occurrences, top-token concentration cap, duplicate-bigram cap —
    plus the failed-rule count and the final keep decision. l4h/l5
    emit raw signals; this is the DECISION operator a curation
    pipeline actually applies, with per-rule attribution so a
    threshold change's impact is auditable per rule rather than only
    via the final keep rate.

    Plan shape: every signal except top-token concentration is
    computed in-row with array HOFs (no explode); the top-token
    frequency is the one aggregate, shuffling per-(doc, token) counts
    already shrunk by map-side combine, then a doc_id-keyed join back
    — the l4h shape. All fractions are raw IEEE divisions of integers
    and all thresholds compare those exact doubles, so the booleans
    are bitwise-reproducible cross-engine with no rounding step. At
    100 TB this is scan-dominated and embarrassingly parallel; the
    rule thresholds are constants, so the gate composes with l4n/lm1
    sampling as a pushed-down filter."""
    d = load(spark, sf_dir, "documents")
    base = d.select("doc_id", tokenize(F.col("text")).alias("t"))
    n = F.size(F.col("t"))
    total_len = F.aggregate(
        F.transform(F.col("t"), lambda x: F.length(x)), F.lit(0), lambda a, b: a + b
    )
    bg = word_ngrams("t", 2)
    feats = base.select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        (total_len.cast("double") / n).alias("mean_word_len"),
        stopword_count(F.col("t")).cast("bigint").alias("stop_count"),
        F.coalesce(
            (F.size(bg) - F.size(F.array_distinct(bg))).cast("double")
            / F.nullif((n - 1).cast("bigint"), F.lit(0)),
            F.lit(0.0),
        ).alias("dup_bigram_frac"),
    )
    rules = feats.join(max_token_freq(base), "doc_id").select(
        "doc_id",
        "n_tokens",
        "mean_word_len",
        (F.col("max_freq").cast("double") / F.col("n_tokens")).alias("top_token_frac"),
        "dup_bigram_frac",
        F.col("n_tokens").between(20, 2000).alias("rule_word_count"),
        F.col("mean_word_len").between(3.0, 10.0).alias("rule_mean_word_len"),
        (F.col("stop_count") >= 2).alias("rule_stopword"),
        (
            (F.col("max_freq").cast("double") / F.col("n_tokens")) <= 0.125
        ).alias("rule_top_token"),
        (F.col("dup_bigram_frac") <= 0.08).alias("rule_dup_bigram"),
    )
    failed = sum(
        F.when(F.col(r), 0).otherwise(1)
        for r in (
            "rule_word_count",
            "rule_mean_word_len",
            "rule_stopword",
            "rule_top_token",
            "rule_dup_bigram",
        )
    )
    return rules.select(
        "*",
        failed.cast("bigint").alias("n_rules_failed"),
        (
            F.col("rule_word_count")
            & F.col("rule_mean_word_len")
            & F.col("rule_stopword")
            & F.col("rule_top_token")
            & F.col("rule_dup_bigram")
        ).alias("keep"),
    )


#: The perplexity canon of the n-gram LM ladder (l5e, l5e2, l5e3,
#: l5e4, l5e5): each n-gram's negative log-probability is rounded to
#: 8 dp and summed as exact DECIMAL(38,10) (order-free, so neither
#: the partitioning nor a union's order can move a bit), the per-doc
#: mean is rounded to 6 dp, and exp is applied to that already-rounded
#: double on both engines — the l4k component-rounding canon.
def _nll(p: Column) -> Column:
    """The canon's per-n-gram ``nll`` column for probability ``p``.
    Twin of :func:`_nll_sql`."""
    return F.round(-F.log(p), 8).cast(DEC).alias("nll")


def _nll_sql(p: str) -> str:
    """DuckDB twin of :func:`_nll`."""
    return f"{dec_sql(f'ROUND(-LN({p}), 8)')} AS nll"


def _perplexity(
    scored: DataFrame, keys: list[str], count: str, **extra: Column
) -> DataFrame:
    """The canon's per-doc summary of a scored n-gram stream ``(*keys,
    nll)``: ``(*keys, count, *extra, avg_nll, ppl_proxy)``, where
    ``count`` names the n-gram count and ``extra`` holds further
    per-doc aggregates by output name. The projection is SQL text: one
    parse, where the Column API costs a py4j round trip per node. Twin
    of :func:`_perplexity_sql`."""
    avg = f"round(CAST(s AS DOUBLE) / {count}, 6)"
    return (
        scored.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias(count),
            *(c.alias(k) for k, c in extra.items()),
            F.sum("nll").alias("s"),
        )
        .selectExpr(
            *keys,
            count,
            *extra,
            f"{avg} AS avg_nll",
            f"round(exp({avg}), 4) AS ppl_proxy",
        )
    )


def _perplexity_sql(scored: str, keys: str, count: str, **extra: str) -> str:
    """DuckDB twin of :func:`_perplexity` over the relation ``scored``;
    ``keys`` is the comma-separated group key."""
    ext = "".join(f"\n       {e} AS {k}," for k, e in extra.items())
    return f"""SELECT {keys}, CAST(COUNT(*) AS BIGINT) AS {count},{ext}
       ROUND(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 6) AS avg_nll,
       ROUND(EXP(avg_nll), 4) AS ppl_proxy
FROM {scored} GROUP BY {keys}"""


def _unigram_model(tok: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The unigram LM of a ``token`` row stream: the ``(token, cnt)``
    vocab counts (|V| rows, far smaller than the corpus) and their
    1-row ``(n_total)`` total, which attaches by broadcast cross join
    (the l4k corpus-statistics shape). Twin of
    :func:`_unigram_model_sql`."""
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    return vocab, vocab.agg(F.sum("cnt").alias("n_total"))


def _unigram_model_sql(tok: str) -> str:
    """DuckDB twin of :func:`_unigram_model`: the ``vocab`` and ``tot``
    CTEs over the ``token`` column of relation ``tok``."""
    return f"""vocab AS (
  SELECT token, COUNT(*) AS cnt FROM {tok} GROUP BY 1
), tot AS (
  SELECT SUM(cnt) AS n_total FROM vocab
)"""


#: The per-document unigram-LM scoring relation as a SQL fragment —
#: ``(doc_id, lang, n_tokens, avg_nll, ppl_proxy)`` — shared by l5e's
#: and l5e2's projection and l5e3's CCNet bucketing so they provably
#: score identically. Twin of :func:`unigram_scored`.
UNIGRAM_SCORED_SQL = f"""
WITH tok AS (
  SELECT doc_id, lang, u.token
  FROM (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
       UNNEST(t) AS u(token)
), {_unigram_model_sql("tok")}, scored AS (
  SELECT doc_id, lang,
         {_nll_sql("CAST(cnt AS DOUBLE) / CAST(n_total AS DOUBLE)")}
  FROM tok JOIN vocab USING (token) CROSS JOIN tot
)
{_perplexity_sql("scored", "doc_id, lang", "n_tokens")}
"""


def _scored_unigrams(
    spark: SparkSession,
    sf_dir: str,
    lookup: Callable[[DataFrame, DataFrame], DataFrame],
) -> DataFrame:
    """The unigram-LM scoring relation ``(doc_id, lang, n_tokens,
    avg_nll, ppl_proxy)`` with each token's vocab count attached by
    ``lookup(tok, vocab)`` (the one step l5e2 plans differently). One
    explode feeds both the vocab aggregate and the lookup; lang rides
    through the explode instead of a join back (the grouping key stays
    doc-unique)."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.explode(tokenize(F.col("text"))).alias("token")
    )
    vocab, tot = _unigram_model(tok)
    scored = (
        lookup(tok, vocab)
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "lang",
            _nll(F.col("cnt").cast("double") / F.col("n_total").cast("double")),
        )
    )
    return _perplexity(scored, ["doc_id", "lang"], "n_tokens")


def unigram_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-document unigram-LM scoring relation ``(doc_id, lang,
    n_tokens, avg_nll, ppl_proxy)`` — l5e's body, shared with l5e3's
    CCNet head/middle/tail bucketing; the vocab attaches by one
    token-keyed equi-join. Twin of :data:`UNIGRAM_SCORED_SQL`."""
    return _scored_unigrams(
        spark, sf_dir, lambda tok, vocab: tok.join(vocab, "token")
    )


@register(
    "l5e_unigram_logprob",
    oracle=f"""
SELECT doc_id, n_tokens, avg_nll, ppl_proxy FROM ({UNIGRAM_SCORED_SQL})
""",
    tags=("L5", "L4", "A1", "J8"),
)
def l5e_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring — the CCNet/KenLM-style
    perplexity-proxy quality signal: build the corpus unigram model
    (token -> count, total N), score each document as the mean
    negative log-probability of its tokens, and report exp(mean) as a
    perplexity proxy. Low ppl = in-distribution text; high ppl =
    out-of-vocabulary-heavy or unusual token mix. The real pipelines
    score against a 5-gram KenLM trained on a clean reference corpus;
    the unigram self-model keeps the identical plan shape (model
    build + broadcast + score) fully oracle-checkable.

    Plan shape: one explode feeds BOTH the vocab aggregate and the
    scoring join; the vocab (|V| rows, far smaller than the corpus)
    joins back keyed by token — AQE broadcasts it when it fits, else
    it is an equi-shuffle on uniform-ish hash keys; the single-row
    total attaches via a 1-row broadcast cross join (the l4k
    corpus-statistics shape). Per-doc reduction is one hash
    aggregate with map-side combine. Zipfian token skew is real at
    100 TB ('the' is a hot join key): the fix is the sk2 recipe —
    broadcast the top-K head of the vocab and shuffle only the tail —
    implemented as the registered variant l5e2_unigram_logprob_headtail
    (applied when |V| exceeds broadcast budget).
    Determinism: the ladder's perplexity canon (:func:`_nll`,
    :func:`_perplexity`)."""
    return unigram_scored(spark, sf_dir).select(
        "doc_id", "n_tokens", "avg_nll", "ppl_proxy"
    )


#: Head size for l5e2's broadcast-head/shuffle-tail split. Zipf's law
#: puts ~half of all token OCCURRENCES in the few hottest types, so a
#: small constant head absorbs the hot join keys; the fixture's |V|=31
#: still leaves a non-empty 23-token tail, so both paths are exercised.
_L5E_HEAD_K = 8


def _headtail_lookup(tok: DataFrame, vocab: DataFrame) -> DataFrame:
    """l5e2's token -> vocab lookup, split at the Zipf head: the top
    ``_L5E_HEAD_K`` types by count join by explicit broadcast, the
    rest by the ordinary equi-join, and the two streams union."""
    head = vocab.orderBy(F.col("cnt").desc(), "token").limit(_L5E_HEAD_K)
    hot = F.broadcast(head.select("token"))
    tail = vocab.join(hot, "token", "left_anti")
    return tok.join(F.broadcast(head), "token").unionByName(
        tok.join(hot, "token", "left_anti").join(tail, "token")
    )


@register(
    "l5e2_unigram_logprob_headtail",
    # the split is plan-level only, so the oracle IS l5e's: the same
    # shared-fragment projection (one canon definition, no drift)
    oracle=f"""
SELECT doc_id, n_tokens, avg_nll, ppl_proxy FROM ({UNIGRAM_SCORED_SQL})
""",
    tags=("L5", "L4", "A1", "J8", "sk2"),
)
def l5e2_unigram_logprob_headtail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l5e's unigram-LM scoring with the Zipf-skew join split applied —
    the sk2 broadcast-head/shuffle-tail recipe the l5e docstring
    prescribes for 100 TB, where 'the' alone is a hot enough join key
    to stall a token-keyed shuffle on one reducer.

    Split: the top-``_L5E_HEAD_K`` vocabulary types by count (the
    Zipf head — a constant-size table by construction) join the token
    stream via an explicit broadcast, so every hot-key lookup is
    map-side and no hot key ever crosses an exchange; the remaining
    tail tokens — each type's count bounded above by the head's
    minimum, i.e. non-hot BY CONSTRUCTION — take the ordinary
    equi-join, which is a well-balanced shuffle (or an AQE broadcast
    when the whole tail fits, as on this fixture). The two scored
    streams union before the per-doc aggregate; the per-token nll is
    rounded then summed in exact DECIMAL(38,10), so the union order —
    and therefore the split itself — cannot perturb a single bit of
    the result: the model, the canon and the oracle are l5e's.

    At scale the same split serves any corpus-frequency join (lm7's
    bucket join is bounded at 256 rows and needs none; l4k/l4c score
    joins would take it verbatim). Head size is a constant, not a
    fraction: Zipf puts the mass in O(1) types, and a constant head
    keeps the broadcast plan-stable as the corpus grows."""
    return _scored_unigrams(spark, sf_dir, _headtail_lookup).select(
        "doc_id", "n_tokens", "avg_nll", "ppl_proxy"
    )


@register(
    "l5e3_ccnet_ppl_buckets",
    oracle=f"""
WITH s AS ({UNIGRAM_SCORED_SQL}),
ranked AS (
  SELECT lang, avg_nll, n_tokens,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY avg_nll, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM s
), cuts AS (
  SELECT lang,
         MAX(CASE WHEN rn = CAST(CEIL(n / 3.0) AS BIGINT) THEN avg_nll END) AS c33,
         MAX(CASE WHEN rn = CAST(CEIL(2 * n / 3.0) AS BIGINT) THEN avg_nll END) AS c67
  FROM ranked GROUP BY lang
), b AS (
  SELECT s.lang,
         CASE WHEN s.avg_nll <= c.c33 THEN 'head'
              WHEN s.avg_nll <= c.c67 THEN 'middle'
              ELSE 'tail' END AS bucket,
         s.avg_nll, s.n_tokens
  FROM s JOIN cuts c USING (lang)
)
SELECT lang, bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       MIN(avg_nll) AS min_nll,
       MAX(avg_nll) AS max_nll
FROM b GROUP BY lang, bucket
""",
    tags=("L5", "W1", "A1", "J8"),
)
def l5e3_ccnet_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail quality bucketing (Wenzek et al. 2020):
    per language, split documents into perplexity terciles — 'head'
    (lowest mean nll, most in-distribution; what CCNet keeps for LM
    training), 'middle', 'tail' — and report each bucket's document
    count, token mass, and nll range. Composes l5e's scoring relation
    (shared unigram_scored helper — the legs provably agree) with
    lm4b's broadcast-cutpoint discipline: tercile cutpoints are the
    values at ranks ceil(n/3), ceil(2n/3) per language (discrete rank
    quantiles — both engines pick the identical element, no
    interpolation), the |langs|x2 cutpoint table broadcasts back, and
    bucket assignment is two comparisons map-side on the scored
    relation. Ties share buckets (equal scores never straddle a cut —
    what a quality gate actually wants; NTILE would split them).

    Scale shape: the rank pass uses a per-lang window for oracle
    replayability; at 100 TB the cutpoints come from one
    approx-quantile sketch pass over the scored relation (lm4b's
    documented swap), and the hot path — assignment + rollup — touches
    the scored relation once, map-side. The scored relation itself is
    l5e's two-shuffle plan."""
    from pyspark.sql import Window

    s = unigram_scored(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy("avg_nll", "doc_id")
    cw = Window.partitionBy("lang")
    ranked = s.select(
        "lang",
        "avg_nll",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(cw).alias("n"),
    )
    cuts = ranked.groupBy("lang").agg(
        F.max(
            F.when(
                F.col("rn") == F.ceil(F.col("n") / F.lit(3.0)).cast("long"),
                F.col("avg_nll"),
            )
        ).alias("c33"),
        F.max(
            F.when(
                F.col("rn") == F.ceil(F.col("n") * 2 / F.lit(3.0)).cast("long"),
                F.col("avg_nll"),
            )
        ).alias("c67"),
    )
    bucket = (
        F.when(F.col("avg_nll") <= F.col("c33"), F.lit("head"))
        .when(F.col("avg_nll") <= F.col("c67"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        s.join(F.broadcast(cuts), "lang")
        .select("lang", bucket.alias("bucket"), "avg_nll", "n_tokens")
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("avg_nll").alias("min_nll"),
            F.max("avg_nll").alias("max_nll"),
        )
    )


#: Interpolation weight for the bigram LM: score = LAMBDA * bigram MLE
#: + (1 - LAMBDA) * unigram MLE — Jelinek-Mercer smoothing with a fixed
#: lambda (KenLM's Kneser-Ney needs per-context discount tables; fixed-
#: lambda JM keeps the identical plan shape fully oracle-checkable).
_L5E4_LAMBDA = 0.75

#: The context and backoff keys of a bigram ``big`` (l5e4) and of a
#: trigram ``tg`` (l5e5), cut from the n-gram string: tokens never
#: contain a space, so split_part inverts the kernel's join. The same
#: SQL text parses in Spark SQL and DuckDB.
_BIGRAM_KEYS = ("split_part(big, ' ', 1) AS w1", "split_part(big, ' ', 2) AS w2")
_TRIGRAM_KEYS = (
    "concat_ws(' ', split_part(tg, ' ', 1), split_part(tg, ' ', 2)) AS big12",
    "concat_ws(' ', split_part(tg, ' ', 2), split_part(tg, ' ', 3)) AS big23",
    "split_part(tg, ' ', 2) AS w2",
    "split_part(tg, ' ', 3) AS w3",
)


@register(
    "l5e4_bigram_interp_logprob",
    oracle=f"""
WITH bg AS (
  SELECT doc_id, big, {", ".join(_BIGRAM_KEYS)}
  FROM (SELECT doc_id, UNNEST({word_ngrams_sql("toks", 2)}) AS big
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
), tok AS (
  SELECT UNNEST(string_split(text, ' ')) AS token FROM documents
), {_unigram_model_sql("tok")}, ctx AS (
  SELECT w1, COUNT(*) AS cctx FROM bg GROUP BY 1
), bgm AS (
  SELECT big, COUNT(*) AS cbg FROM bg GROUP BY 1
), scored AS (
  SELECT bg.doc_id,
         {_nll_sql(
             f"{_L5E4_LAMBDA} * (CAST(cbg AS DOUBLE) / CAST(cctx AS DOUBLE))"
             f" + {1 - _L5E4_LAMBDA} * (CAST(cnt AS DOUBLE) / CAST(n_total AS DOUBLE))"
         )}
  FROM bg
  JOIN bgm USING (big)
  JOIN ctx USING (w1)
  JOIN vocab ON vocab.token = bg.w2
  CROSS JOIN tot
)
{_perplexity_sql("scored", "doc_id", "n_bigrams")}
""",
    tags=("L5", "L4", "A1", "J8"),
)
def l5e4_bigram_interp_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM scoring — one modeling step up l5e's
    ladder toward the CCNet/KenLM 5-gram: each document scored by the
    mean negative log of the Jelinek-Mercer-smoothed bigram
    probability lambda * c(w1 w2)/c_ctx(w1) + (1-lambda) * c(w2)/N,
    where c_ctx counts w1 as a bigram context (so the conditional
    sums to 1 over w2 exactly). Fixed-lambda JM instead of KenLM's
    Kneser-Ney keeps every number a ratio of exact corpus counts —
    the whole score is oracle-checkable bit-for-bit — while the PLAN
    is identical to what a real n-gram scorer runs: model-build
    aggregates + model joins back onto the n-gram stream.

    Plan shape: bigrams form IN-ROW (the word_ngrams kernel — no
    self-join of token rows; w1/w2 are cut from the bigram string)
    and the exploded bigram stream is PERSISTED (MEMORY_AND_DISK, the
    l2m discipline) because three consumers read it — the scoring
    stream plus the bigram and context model builds — and unreused
    lineage would re-explode the corpus per consumer; with the cache
    the corpus tokenizes exactly twice (bigram build + unigram model),
    the minimum without deriving one model from the other. Three model
    tables join back — the bigram model keyed on the pair, the context
    and unigram models keyed on single tokens, the 1-row total as a
    broadcast attach. Model tables are |V|^2- and |V|-bounded (far smaller
    than the corpus; AQE broadcasts them when they fit), and the
    token-keyed joins carry the same Zipf hot-key exposure as
    l5e — the l5e2 broadcast-head/shuffle-tail lever applies to each
    verbatim at 100 TB. Per-doc reduction is one hash aggregate;
    docs under 2 tokens have no bigrams and drop out (documented; the
    fixture has none). Determinism: the ladder's perplexity canon
    (the interpolation's two products and their sum are fixed-order
    IEEE ops on identical inputs)."""
    from pyspark import StorageLevel

    d = load(spark, sf_dir, "documents")
    bg = (
        d.select("doc_id", tokenize(F.col("text")).alias("toks"))
        .select("doc_id", F.explode(word_ngrams("toks", 2)).alias("big"))
        .selectExpr("doc_id", "big", *_BIGRAM_KEYS)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    vocab, tot = _unigram_model(
        d.select(F.explode(tokenize(F.col("text"))).alias("token"))
    )
    ctx = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("cctx"))
    bgm = bg.groupBy("big").agg(F.count(F.lit(1)).alias("cbg"))
    lam = _L5E4_LAMBDA
    p = F.lit(lam) * (
        F.col("cbg").cast("double") / F.col("cctx").cast("double")
    ) + F.lit(1 - lam) * (
        F.col("cnt").cast("double") / F.col("n_total").cast("double")
    )
    scored = (
        bg.join(bgm, "big")
        .join(ctx, "w1")
        .join(vocab.withColumnRenamed("token", "w2"), "w2")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", _nll(p))
    )
    return _perplexity(scored, ["doc_id"], "n_bigrams")


#: Boilerplate geometry: non-overlapping 8-token chunks; a chunk text
#: is boilerplate when it occurs in >= 2 DISTINCT documents (the
#: RefinedWeb/CCNet line-dedup rule lifted to fixed chunks — this
#: corpus's text is space-separated tokens with no newlines, so the
#: "line" unit is a fixed token window instead).
_BP_C = 8
_BP_MIN_DOCS = 2


@register(
    "l5f_boilerplate_chunk_strip",
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), c AS (
  SELECT doc_id, s.i AS pos,
         array_to_string(list_slice(toks, (s.i - 1) * {_BP_C} + 1,
                                    (s.i - 1) * {_BP_C} + {_BP_C}), ' ') AS chunk
  FROM t, UNNEST(generate_series(1, CAST(CEIL(LEN(toks) / {_BP_C}.0) AS BIGINT)))
       AS s(i)
), boiler AS (
  SELECT chunk FROM c GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= {_BP_MIN_DOCS}
), flagged AS (
  SELECT c.doc_id, c.pos, c.chunk, b.chunk IS NOT NULL AS is_boiler
  FROM c LEFT JOIN boiler b ON c.chunk = b.chunk
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(COUNT(*) FILTER (WHERE is_boiler) AS BIGINT) AS n_boiler_chunks,
       CAST(COALESCE(SUM(LEN(string_split(chunk, ' ')))
                     FILTER (WHERE NOT is_boiler), 0) AS BIGINT) AS kept_tokens,
       md5(COALESCE(string_agg(chunk, ' ' ORDER BY pos)
                    FILTER (WHERE NOT is_boiler), '')) AS kept_md5
FROM flagged GROUP BY 1
""",
    tags=("L5", "L1", "A1", "F4"),
)
def l5f_boilerplate_chunk_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency boilerplate removal — the RefinedWeb/CCNet
    line-dedup stage (Penedo et al. 2023 §3.3 'line-wise corrections';
    CCNet removes duplicated lines/paragraphs across shards) adapted to
    this corpus's newline-free space-separated text: split each doc into
    non-overlapping {_BP_C}-token chunks, flag any chunk whose exact
    text occurs in >= {_BP_MIN_DOCS} distinct documents, and emit the
    per-doc strip accounting plus the md5 of the surviving text (chunks
    re-joined in position order) so the cleaned output is value-checked
    without shipping long strings through the hash gate.

    Plan shape: chunking is in-row (one explode of ceil(n/{_BP_C})
    chunk rows per doc — 8x FEWER rows than a token explode); the
    boilerplate set is one chunk-text-keyed aggregate with map-side
    combine; the flag join is chunk-text-keyed equi-shuffle (or
    broadcast when the boiler set fits, as here); reassembly is one
    hash aggregate whose ordered concat uses sort_array over (pos,
    chunk) structs — deterministic, JVM-side, no Python. At 100 TB the
    boiler set is the df>=k tail of a heavy-hit distribution — small —
    so the probe side broadcasts; the house po1 bloom is the
    pre-filter if it ever does not. Exact-text matching (not hashes)
    on the join key keeps the op collision-free; keys are
    {_BP_C}-token strings, so shuffle width is bounded."""
    d = load(spark, sf_dir, "documents")
    toks = F.col("toks")
    chunks = F.transform(
        F.sequence(
            F.lit(1), F.ceil(F.size(toks) / F.lit(float(_BP_C))).cast("int")
        ),
        lambda i: F.concat_ws(
            " ", F.slice(toks, (i - 1) * _BP_C + 1, _BP_C)
        ),
    )
    c = (
        d.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
        .select("doc_id", F.posexplode(chunks).alias("pos0", "chunk"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "chunk")
    )
    boiler = (
        c.groupBy("chunk")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= _BP_MIN_DOCS)
        .select("chunk", F.lit(True).alias("is_boiler"))
    )
    flagged = c.join(F.broadcast(boiler), "chunk", "left").select(
        "doc_id",
        "pos",
        "chunk",
        F.coalesce(F.col("is_boiler"), F.lit(False)).alias("is_boiler"),
    )
    kept_struct = F.when(
        ~F.col("is_boiler"), F.struct(F.col("pos"), F.col("chunk"))
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.count(F.when(F.col("is_boiler"), 1)).alias("n_boiler_chunks"),
        F.coalesce(
            F.sum(
                F.when(
                    ~F.col("is_boiler"), F.size(F.split(F.col("chunk"), " "))
                )
            ),
            F.lit(0),
        ).alias("kept_tokens"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s.getField("chunk"),
                ),
                " ",
            ).cast("binary")
        ).alias("kept_md5"),
    )


#: Zipf fit: least-squares slope of ln(freq) on ln(rank) over the top
#: _ZIPF_R vocabulary ranks (rank ties broken by token text so both
#: engines pick the identical ranking).
_ZIPF_R = 100


@register(
    "l4s_zipf_fit",
    oracle=f"""
WITH tok AS (
  SELECT u.token
  FROM (SELECT string_split(text, ' ') AS t FROM documents), UNNEST(t) AS u(token)
), vocab AS (
  SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1
), ranked AS (
  SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS r FROM vocab
), pts AS (
  SELECT ROUND(LN(CAST(r AS DOUBLE)), 8) AS x, ROUND(LN(CAST(cnt AS DOUBLE)), 8) AS y
  FROM ranked WHERE r <= {_ZIPF_R}
), sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         {dsum_sql('x')} AS sx,
         {dsum_sql('y')} AS sy,
         {dsum_sql('x * y')} AS sxy,
         {dsum_sql('x * x')} AS sxx
  FROM pts
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(COUNT(DISTINCT token) AS BIGINT) AS n_vocab
  FROM tok
)
SELECT n_tokens, n_vocab,
       ROUND(CAST(n_vocab AS DOUBLE) / n_tokens, 6) AS type_token_ratio,
       CAST(n AS BIGINT) AS ranks_used,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope
FROM sums CROSS JOIN tot
""",
    tags=("L4", "A1", "W2", "F3"),
)
def l4s_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics fit: Zipf's-law slope via least squares of
    ln(freq) on ln(rank) over the top {_ZIPF_R} vocabulary ranks, plus
    type-token ratio — the sanity profile a data team checks after any
    dedup/filter stage (natural text sits near slope -1; synthetic or
    over-deduped corpora drift). Explicit-sums regression (n·Sxy -
    Sx·Sy)/(n·Sxx - Sx²) instead of covar_pop/var_pop because the
    engines' streaming-moment algorithms differ in the last ulp while
    rounded-point decimal sums are order-free and bit-identical.

    Plan shape: one token aggregate (map-side combined) produces the
    vocabulary; the rank window is unpartitioned BUT runs over the
    POST-AGGREGATION vocab table (|V| rows, << corpus — the w8
    discipline) and is immediately cut to {_ZIPF_R} rows, which Spark
    executes as a WindowGroupLimit-style top-k, not a full sort
    spill; the regression is a 1-row aggregate of {_ZIPF_R} points.
    Totals ride the same vocab table. At 100 TB the only corpus-scale
    work is the first aggregate."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(F.explode(tokenize(F.col("text"))).alias("token"))
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    ranked = vocab.select(
        "cnt",
        F.row_number()
        .over(Window.orderBy(F.col("cnt").desc(), F.col("token")))
        .alias("r"),
    ).filter(F.col("r") <= _ZIPF_R)
    pts = ranked.select(
        F.round(F.log(F.col("r").cast("double")), 8).alias("x"),
        F.round(F.log(F.col("cnt").cast("double")), 8).alias("y"),
    )
    sums = pts.agg(
        F.count(F.lit(1)).alias("n"),
        dsum("x").alias("sx"),
        dsum("y").alias("sy"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
    )
    tot = vocab.agg(
        F.sum("cnt").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_vocab"),
    )
    slope = F.round(
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")),
        6,
    )
    return sums.crossJoin(F.broadcast(tot)).select(
        "n_tokens",
        "n_vocab",
        F.round(F.col("n_vocab").cast("double") / F.col("n_tokens"), 6).alias(
            "type_token_ratio"
        ),
        F.col("n").cast("bigint").alias("ranks_used"),
        slope.alias("zipf_slope"),
    )


@register(
    "l5i_fasttext_quality_gate",
    oracle=f"""
WITH w AS (SELECT {l5i_weights_sql()} AS wv),
t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
scored AS (
  SELECT doc_id,
         CAST(LEN(toks) AS BIGINT) AS n_tokens,
         CAST(2 * LEN(toks) - 1 AS BIGINT) AS n_features,
         {quality_logit_sql("toks", "wv")} AS quality_logit
  FROM t CROSS JOIN w
)
SELECT doc_id, n_tokens, n_features, quality_logit,
       ROUND(1.0 / (1.0 + EXP(-quality_logit)), 6) AS quality_score,
       quality_logit > 0 AS keep_quality
FROM scored
""",
    tags=("L5", "L4", "F4"),
)
def l5i_fasttext_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality classifier gate (Joulin et al.
    2016, "Bag of Tricks for Efficient Text Classification") — the
    industry-standard curation stage CCNet (Wenzek et al. 2020), GPT-3
    (Brown et al. 2020 §A) and LLaMA all apply: hashed unigram+bigram
    bag-of-features, a linear head, sigmoid score, keep flag. The
    weight vector here is a fixed md5-derived stand-in for a trained
    Wikipedia-vs-crawl model (operators/text.py:_l5i_weight documents
    the swap point); everything else — feature hashing, the broadcast
    model attach, the in-row dot product — is the production topology.

    Plan shape: the model is ONE row (a 256-double array, the lm7
    feature-hashing discipline: constant-size regardless of
    vocabulary), broadcast-crossJoined onto the scan; features form
    in-row (word_ngrams bigrams — no token explode, no shuffle at
    all), and the dot product is an in-row fold in array order (the
    l4t fixed-order canon, so DuckDB replays the identical IEEE sum).
    The whole gate is a pure map over document partitions — at 100 TB
    it runs at scan speed and composes with lm1/l4n sampling as a
    pushed-down filter, exactly why production pipelines can afford
    to score every crawl document. Determinism: logit rounded 6dp
    before both the sigmoid and the keep comparison (bias calibrated
    so no fixture doc sits on the boundary)."""
    d = load(spark, sf_dir, "documents")
    n = F.size(F.col("toks"))
    scored = (
        with_quality_weights(d.select("doc_id", tokenize(F.col("text")).alias("toks")))
        .select(
            "doc_id",
            n.cast("bigint").alias("n_tokens"),
            (2 * n - 1).cast("bigint").alias("n_features"),
            quality_logit("toks").alias("quality_logit"),
        )
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "n_features",
        "quality_logit",
        F.round(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("quality_logit"))), 6
        ).alias("quality_score"),
        (F.col("quality_logit") > 0).alias("keep_quality"),
    )


#: Stupid-backoff weight (Brants et al. 2007, "Large Language Models
#: in Machine Translation" §4): S(w3|w1 w2) = c(w1w2w3)/c(w1w2) if the
#: trigram was seen in training, else ALPHA * c(w2w3)/c(w2), else
#: ALPHA^2 * c(w3)/N. Scores are deliberately NOT normalized (the
#: paper's point: ratios of raw counts need no discount tables), which
#: is exactly what keeps every branch oracle-exact. ALPHA2 is written
#: as one literal so both engines multiply by the identical double.
_L5E5_ALPHA = 0.4
_L5E5_ALPHA2 = 0.16


@register(
    "l5e5_trigram_backoff_logprob",
    oracle=f"""
WITH train AS (
  SELECT string_split(text, ' ') AS toks FROM documents WHERE doc_id % 13 <> 0
), ev AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id % 13 = 0
), tri_ev AS (
  SELECT doc_id, tg, {", ".join(_TRIGRAM_KEYS)}
  FROM (SELECT doc_id, UNNEST({word_ngrams_sql("toks", 3)}) AS tg FROM ev)
), tri_m AS (
  SELECT g, COUNT(*) AS c FROM (SELECT UNNEST({word_ngrams_sql("toks", 3)}) AS g FROM train)
  GROUP BY 1
), bg_m AS (
  SELECT g, COUNT(*) AS c FROM (SELECT UNNEST({word_ngrams_sql("toks", 2)}) AS g FROM train)
  GROUP BY 1
), tok AS (
  SELECT UNNEST(toks) AS token FROM train
), {_unigram_model_sql("tok")}, scored AS (
  SELECT e.doc_id,
         t3.c IS NOT NULL AS hit3,
         t3.c IS NULL AND b23.c IS NOT NULL AS hit2,
         {_nll_sql(f'''CASE
             WHEN t3.c IS NOT NULL
               THEN CAST(t3.c AS DOUBLE) / CAST(b12.c AS DOUBLE)
             WHEN b23.c IS NOT NULL
               THEN {_L5E5_ALPHA} * (CAST(b23.c AS DOUBLE) / CAST(u2.cnt AS DOUBLE))
             ELSE {_L5E5_ALPHA2}
               * (CAST(GREATEST(COALESCE(u3.cnt, 0), 1) AS DOUBLE) / CAST(n_total AS DOUBLE))
           END''')}
  FROM tri_ev e
  LEFT JOIN tri_m t3 ON t3.g = e.tg
  LEFT JOIN bg_m b12 ON b12.g = e.big12
  LEFT JOIN bg_m b23 ON b23.g = e.big23
  LEFT JOIN vocab u2 ON u2.token = e.w2
  LEFT JOIN vocab u3 ON u3.token = e.w3
  CROSS JOIN tot
)
{_perplexity_sql(
    "scored", "doc_id", "n_trigrams",
    n_hit3="CAST(SUM(CASE WHEN hit3 THEN 1 ELSE 0 END) AS BIGINT)",
    n_backoff2="CAST(SUM(CASE WHEN hit2 THEN 1 ELSE 0 END) AS BIGINT)",
    n_backoff1="CAST(SUM(CASE WHEN NOT hit3 AND NOT hit2 THEN 1 ELSE 0 END) AS BIGINT)",
)}
""",
    tags=("L5", "L4", "A1", "J8"),
)
def l5e5_trigram_backoff_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram LM with stupid backoff (Brants et al. 2007) — the next
    rung of the l5e -> l5e4 modeling ladder, and the first HELD-OUT
    scoring in the family: the model trains on the train slice
    (doc_id % 13 != 0) and scores the eval slice, the topology of a
    real CCNet-style filter (a Wikipedia-trained model scoring crawl
    documents). Self-scoring would never leave the trigram branch;
    held-out scoring exercises the backoff ladder for real (fixture:
    1029 trigram hits, 728 bigram backoffs, 0 unigram backoffs at
    sf0.01 — the per-branch counts are output columns so the mix is
    auditable). Unseen w3 falls to the documented OOV floor
    GREATEST(c,1)/N; the fixture's closed 31-token vocabulary never
    triggers it.

    Plan shape — the model-join ladder at its widest: three model
    tables bounded by |V|^3 / |V|^2 / |V| regardless of corpus size
    (the reason n-gram LMs scale: Brants built 5-gram models over
    2 trillion tokens this way), joined back onto the in-row-formed
    eval trigram stream (its context and backoff keys cut from the
    trigram string); the 1-row total broadcasts. The bigram and
    unigram models are each probed TWICE (context key + backoff key),
    so both are persisted (MEMORY_AND_DISK) — without the persist each
    second probe would re-tokenize the train corpus (the l5e4/l2m
    lesson); with it the train corpus is expanded exactly three times
    (once per model order — deriving lower orders from the trigram
    stream would miss the n-grams at document edges, KenLM's
    adjusted-count subtlety, so the three expansions are the honest
    minimum) and the eval slice once. Token-keyed model joins carry
    the Zipf hot-key exposure; the l5e2 broadcast-head/shuffle-tail
    lever applies verbatim at 100 TB. Determinism: the ladder's
    perplexity canon (every branch a fixed-order IEEE expression over
    exact counts)."""
    from pyspark import StorageLevel

    d = load(spark, sf_dir, "documents")

    def toks_of(pred: Column) -> DataFrame:
        return d.filter(pred).select(
            "doc_id", tokenize(F.col("text")).alias("toks")
        )

    train = toks_of(F.col("doc_id") % 13 != 0)
    ev = toks_of(F.col("doc_id") % 13 == 0)

    def counts(n: int) -> DataFrame:
        """The train slice's n-gram model ``(g, c)``."""
        g = train.select(F.explode(word_ngrams("toks", n)).alias("g"))
        return g.groupBy("g").agg(F.count(F.lit(1)).alias("c"))

    mem = StorageLevel.MEMORY_AND_DISK
    bg_m = counts(2).persist(mem)
    vocab, tot = _unigram_model(train.select(F.explode("toks").alias("token")))
    vocab = vocab.persist(mem)
    tri_ev = ev.select(
        "doc_id", F.explode(word_ngrams("toks", 3)).alias("tg")
    ).selectExpr("doc_id", "tg", *_TRIGRAM_KEYS)
    score = (
        F.when(
            F.col("c3").isNotNull(),
            F.col("c3").cast("double") / F.col("c2_12").cast("double"),
        )
        .when(
            F.col("c2_23").isNotNull(),
            F.lit(_L5E5_ALPHA)
            * (F.col("c2_23").cast("double") / F.col("c1_w2").cast("double")),
        )
        .otherwise(
            F.lit(_L5E5_ALPHA2)
            * (
                F.greatest(F.coalesce(F.col("c1_w3"), F.lit(0)), F.lit(1)).cast(
                    "double"
                )
                / F.col("n_total").cast("double")
            )
        )
    )
    scored = (
        tri_ev.join(counts(3).toDF("tg", "c3"), "tg", "left")
        .join(bg_m.toDF("big12", "c2_12"), "big12", "left")
        .join(bg_m.toDF("big23", "c2_23"), "big23", "left")
        .join(vocab.toDF("w2", "c1_w2"), "w2", "left")
        .join(vocab.toDF("w3", "c1_w3"), "w3", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.col("c3").isNotNull().alias("hit3"),
            (F.col("c3").isNull() & F.col("c2_23").isNotNull()).alias("hit2"),
            _nll(score),
        )
    )
    return _perplexity(
        scored,
        ["doc_id"],
        "n_trigrams",
        n_hit3=F.sum(F.when(F.col("hit3"), 1).otherwise(0)).cast("bigint"),
        n_backoff2=F.sum(F.when(F.col("hit2"), 1).otherwise(0)).cast("bigint"),
        n_backoff1=F.sum(
            F.when(~F.col("hit3") & ~F.col("hit2"), 1).otherwise(0)
        ).cast("bigint"),
    )


#: l5k training hyperparameters — deterministic by construction:
#: zero-init weights (so step-1 probabilities are exactly 0.5 in both
#: engines), full-batch gradients (no sampling), fixed learning rate,
#: exactly two unrolled steps, decimal-canon gradient sums, 8dp
#: rounding at every step boundary so no raw libm double (EXP in the
#: step-2 sigmoid) ever crosses a step unrounded.
_L5K_LR = 4.0
_L5K_B = 256


def _l5k_ctes() -> str:
    """The l5k training computation as a CTE chain (no leading WITH,
    no final SELECT) — shared verbatim by the l5k model-artifact
    oracle and the l5k2 trained-gate oracle, so the gate provably
    scores with the exact weights the trainer emits."""

    bucket = (
        "(CAST(CONCAT('0x', SUBSTRING(md5(f), 1, 8)) AS BIGINT) % 256)"
    )
    return f"""fx AS (
  SELECT doc_id,
         CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
         {unigram_bigram_features_sql("toks")} AS fs
  FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)
), ex AS (
  SELECT doc_id, y, LEN(fs) AS nf, UNNEST(fs) AS f FROM fx
), xdb AS (
  SELECT doc_id, y, {bucket} AS bucket,
         CAST(COUNT(*) AS DOUBLE) / nf AS x
  FROM ex GROUP BY doc_id, y, nf, {bucket}
), n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn FROM documents),
b1 AS (
  SELECT ROUND(-{_L5K_LR} * ({dsum_sql("0.5 - y")}) / ANY_VALUE(nn), 8)
         AS b1
  FROM fx, n
), g1 AS (
  SELECT bucket, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         {dsum_sql("(0.5 - y) * x")} AS s1
  FROM xdb GROUP BY 1
), w1 AS (
  SELECT bucket, n_docs, ROUND(-{_L5K_LR} * s1 / nn, 8) AS w1
  FROM g1, n
), z AS (
  SELECT x.doc_id, ANY_VALUE(x.y) AS y,
         ROUND(({dsum_sql("w1.w1 * x.x")}) + ANY_VALUE(b1.b1), 8) AS z
  FROM xdb x JOIN w1 USING (bucket) CROSS JOIN b1
  GROUP BY x.doc_id
), p AS (
  SELECT doc_id, y, ROUND(1.0 / (1.0 + EXP(-z)), 8) AS p FROM z
), b2 AS (
  SELECT ROUND(ANY_VALUE(b1.b1)
           - {_L5K_LR} * ({dsum_sql("p.p - p.y")}) / ANY_VALUE(nn), 8)
         AS b2
  FROM p, b1, n
), g2 AS (
  SELECT x.bucket, {dsum_sql("(p.p - p.y) * x.x")} AS s2
  FROM xdb x JOIN p ON p.doc_id = x.doc_id
  GROUP BY 1
), w2 AS (
  SELECT w1.bucket, w1.n_docs, w1.w1,
         ROUND(w1.w1 - {_L5K_LR} * g2.s2 / nn, 8) AS w2
  FROM w1 JOIN g2 USING (bucket), n
), dim AS (SELECT UNNEST(generate_series(0, {_L5K_B - 1})) AS bucket)"""


def _l5k_oracle() -> str:
    return f"""
WITH {_l5k_ctes()}
SELECT CAST(d.bucket AS BIGINT) AS bucket,
       COALESCE(w2.n_docs, 0) AS n_docs,
       COALESCE(w2.w1, 0.0) AS weight_step1,
       COALESCE(w2.w2, 0.0) AS weight_final
FROM dim d LEFT JOIN w2 ON w2.bucket = d.bucket
UNION ALL
SELECT CAST(-1 AS BIGINT) AS bucket,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
       b1.b1 AS weight_step1, b2.b2 AS weight_final
FROM b1, b2
"""


@register(
    "l5k_train_quality_weights",
    oracle=_l5k_oracle(),
    tags=("L5", "A1", "J8", "F7"),
)
def l5k_train_quality_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN the l5i-style classifier in-engine — closing the r7
    verdict's "trained-weights swap point": instead of the md5-derived
    stand-in, this runs the CCNet recipe (Wenzek et al. 2020) for
    real: weak labels from a trusted-class signal (lang = 'en', the
    same target convention lm7's DSIR uses), hashed unigram+bigram
    bag-of-features (l5i's exact 256-bucket md5 hash), and TWO
    unrolled full-batch gradient-descent steps of logistic regression
    — emitted as the (bucket, weight) model artifact plus the
    intercept as bucket -1, ready to broadcast into l5i's gate shape.

    Distributed-training shape (the reason fastText-style gates are
    trainable at 100 TB): the gradient is a SUM over documents of
    per-bucket terms, so each step is one map-side-partial groupBy
    over the exploded (doc, bucket, x) relation — 256 keys, partial
    aggregation collapses every task's contribution to <= 256 rows
    before the shuffle — plus one broadcast of the current 256-double
    weight vector for the per-document logits. No parameter server,
    no driver-side math: the model stays a relation end to end.

    Cross-engine determinism (what makes a TRAINING LOOP hashable at
    all): zero init makes step-1 probabilities exactly 0.5; feature
    ratios x = count/n_features are exact IEEE divisions; every
    gradient reduction uses the decimal-sum canon; and every step
    boundary (w1, b1, per-doc logit z, sigmoid p, w2, b2) is rounded
    to 8dp on BOTH engines so the one libm call (EXP) never
    propagates a raw last-ulp across a step (w8/l5i precedent).
    RESIDUAL RISK (r8 advice, documented by design): ROUND's input in
    the sigmoid step is each engine's own libm EXP, so a last-ulp
    difference can in principle flip the 8dp rounding when
    1/(1+exp(-z)) lands exactly on a .xxxxxxxx5 boundary — the
    hash-match is overwhelmingly probable, not proven, exactly like
    the w8/l5i precedent. If a future drive reds THIS query alone,
    check for a sigmoid boundary doc (|round8(p)*1e8 - p*1e8| ~ 0.5)
    before suspecting the plan. The
    exploded feature relation feeds all three reductions (g1, z, g2),
    so it is persisted once (the l5e4/l2k2 materialization lesson);
    session.release_caches() is the documented release point."""
    d = load(spark, sf_dir, "documents")
    fx = d.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        tokenize(F.col("text")).alias("toks"),
    ).select("doc_id", "y", unigram_bigram_features("toks").alias("fs"))
    bucket = (
        F.conv(F.substring(F.md5(F.col("f").cast("binary")), 1, 8), 16, 10)
        .cast("long")
        % _L5K_B
    )
    xdb = (
        fx.select(
            "doc_id", "y", F.size("fs").alias("nf"), F.explode("fs").alias("f")
        )
        .groupBy("doc_id", "y", "nf", bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "doc_id",
            "y",
            "bucket",
            (F.col("cnt").cast("double") / F.col("nf")).alias("x"),
        )
        .persist()
    )
    nrow = d.agg(F.count(F.lit(1)).cast("double").alias("nn"))
    b1row = (
        fx.agg(dsum(F.lit(0.5) - F.col("y")).alias("s"))
        .crossJoin(F.broadcast(nrow))
        .select(F.round(-_L5K_LR * F.col("s") / F.col("nn"), 8).alias("b1"))
    )
    g1 = (
        xdb.groupBy("bucket")
        .agg(
            F.count_distinct(F.col("doc_id")).cast("bigint").alias("n_docs"),
            dsum((F.lit(0.5) - F.col("y")) * F.col("x"))
            .alias("s1"),
        )
        .crossJoin(F.broadcast(nrow))
        .select(
            "bucket",
            "n_docs",
            F.round(-_L5K_LR * F.col("s1") / F.col("nn"), 8).alias("w1"),
        )
    )
    z = (
        xdb.join(F.broadcast(g1.select("bucket", "w1")), "bucket")
        .groupBy("doc_id", "y")
        .agg(
            dsum(F.col("w1") * F.col("x")).alias("zs")
        )
        .crossJoin(F.broadcast(b1row))
        .select(
            "doc_id",
            "y",
            F.round(F.col("zs") + F.col("b1"), 8).alias("z"),
        )
    )
    p = z.select(
        "doc_id",
        "y",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z"))), 8).alias("p"),
    )
    b2row = (
        p.agg(dsum(F.col("p") - F.col("y")).alias("s"))
        .crossJoin(F.broadcast(nrow))
        .crossJoin(F.broadcast(b1row))
        .select(
            F.col("b1").alias("weight_step1"),
            F.round(
                F.col("b1") - _L5K_LR * F.col("s") / F.col("nn"), 8
            ).alias("weight_final"),
        )
    )
    g2 = (
        xdb.join(p.select("doc_id", "p"), "doc_id")
        .groupBy("bucket")
        .agg(
            dsum((F.col("p") - F.col("y")) * F.col("x"))
            .alias("s2")
        )
    )
    w2 = (
        g1.join(g2, "bucket")
        .crossJoin(F.broadcast(nrow))
        .select(
            "bucket",
            "n_docs",
            "w1",
            F.round(F.col("w1") - _L5K_LR * F.col("s2") / F.col("nn"), 8).alias(
                "w2"
            ),
        )
    )
    dim = spark.range(_L5K_B).select(F.col("id").cast("bigint").alias("bucket"))
    buckets = dim.join(w2, "bucket", "left").select(
        "bucket",
        F.coalesce(F.col("n_docs"), F.lit(0)).cast("bigint").alias("n_docs"),
        F.coalesce(F.col("w1"), F.lit(0.0)).alias("weight_step1"),
        F.coalesce(F.col("w2"), F.lit(0.0)).alias("weight_final"),
    )
    bias = (
        b2row.crossJoin(F.broadcast(nrow))
        .select(
            F.lit(-1).cast("bigint").alias("bucket"),
            F.col("nn").cast("bigint").alias("n_docs"),
            "weight_step1",
            "weight_final",
        )
    )
    return buckets.unionByName(bias)


#: Number of unrolled BPE merge rounds learned by l4m3. Eight is
#: enough to exercise repeat/overlap/cross-round dependencies on the
#: 31-word fixture vocabulary while keeping the unrolled oracle CTE
#: chain readable; the round count is a constant of the ARTIFACT
#: (like a real tokenizer's vocab size), not of the corpus.
_L4M3_MERGES = 8


def _l4m3_ctes() -> list[str]:
    """The unrolled BPE training rounds as a CTE list (wc, s0,
    p1..m1..s1, ..., s{_L4M3_MERGES}) — shared by the l4m3 merge-table
    oracle and the l4m4 encode oracle, so the encoder provably applies
    the exact merges the trainer learned."""
    from big_data_programming_spark.operators.text import (
        bpe_apply_merge_sql,
        bpe_symbolize_sql,
    )

    ctes = [
        """wc AS (
  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
  GROUP BY 1
)""",
        f"s0 AS (SELECT word, cnt, {bpe_symbolize_sql('word')} AS sym FROM wc)",
    ]
    for k in range(1, _L4M3_MERGES + 1):
        ctes.append(f"""p{k} AS (
  SELECT u.pair, CAST(SUM(cnt) AS BIGINT) AS pair_count
  FROM s{k - 1}, UNNEST({word_ngrams_sql("string_split(sym, ' ')", 2)}) AS u(pair)
  GROUP BY 1
)""")
        ctes.append(f"""m{k} AS (
  SELECT pair, REPLACE(pair, ' ', '') AS merged, pair_count
  FROM p{k} ORDER BY pair_count DESC, pair LIMIT 1
)""")
        apply = bpe_apply_merge_sql(
            "sym",
            f"string_split(m{k}.pair, ' ')[1]",
            f"string_split(m{k}.pair, ' ')[2]",
        )
        ctes.append(
            f"s{k} AS (SELECT word, cnt, {apply} AS sym"
            f" FROM s{k - 1} CROSS JOIN m{k})"
        )
    return ctes


def _l4m3_oracle() -> str:
    outs = [
        f"SELECT CAST({k} AS BIGINT) AS merge_ord, pair, merged,"
        f" pair_count FROM m{k}"
        for k in range(1, _L4M3_MERGES + 1)
    ]
    return (
        "WITH " + ",\n".join(_l4m3_ctes()) + "\n" + "\nUNION ALL\n".join(outs)
    )


@register(
    "l4m3_bpe_merge_learning",
    oracle=_l4m3_oracle(),
    tags=("L4", "A1", "O1", "F4"),
)
def l4m3_bpe_merge_learning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEARN the BPE merge table in-engine — closing the l4m2/l4q
    "a real tokenizer (BPE) swaps into the same shape" seam with the
    real algorithm (Sennrich et al. 2016, "Neural Machine Translation
    of Rare Words with Subword Units"): characters + an end-of-word
    marker as initial symbols, then per round (a) count adjacent
    symbol pairs weighted by word frequency, (b) take the most
    frequent pair (count DESC, pair ASC — the deterministic
    tie-break), (c) merge its occurrences left-to-right
    non-overlapping. Emits the merge TABLE (ord, pair, merged,
    count) — exactly a tokenizer's merges.txt, ready to drive l4m2's
    packing or l4q's encode.

    Distributed-training shape (why BPE trains at 100 TB): the corpus
    touches the plan ONCE — the word-frequency aggregate (the only
    corpus-sized shuffle, hash-keyed, map-side partial). Every merge
    round then runs over the VOCABULARY-sized (word, cnt, sym)
    relation — KB-MB even for web-scale corpora — exactly how
    production BPE trainers work (count first, train on counts). The
    per-round argmax is a 1-row TakeOrdered broadcast-joined back;
    the apply step is an in-row fold (operators/text.py:
    bpe_apply_merge, probe-verified identical to the DuckDB twin on
    overlap/repeat edge cases). Rounds chain lineage
    MULTIPLICATIVELY — each round's symbol expression substitutes the
    previous round's several times (pair extraction alone references
    split(sym) three times), and 8 un-truncated rounds push the
    logical plan past Spark's 2 GiB plan-string cap (measured, not
    theoretical) — so the vocab relation and each round's 1-row
    argmax are cut (one operators/graph.py ``fixpoint`` round each):
    lineage truncates at every round boundary, the exact
    bounded-state-per-step shape a production iterative trainer uses.
    Determinism end to end: integer counts, binary string ordering, no
    floats anywhere."""
    merges, _ = _l4m3_train(spark, sf_dir)
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out


def _l4m3_train(
    spark: SparkSession, sf_dir: str
) -> tuple[list[DataFrame], DataFrame]:
    """The l4m3 BPE training loop; returns (per-round merge rows, the
    final (word, cnt, sym) vocabulary after all merges). Shared by
    l4m3 (emits the merge table) and l4m4 (encodes the corpus with the
    final vocabulary) — ONE loop so train and apply cannot drift."""
    from big_data_programming_spark.operators.text import (
        bpe_apply_merge,
        bpe_symbolize,
    )

    d = load(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(tokenize(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    merges = []

    def merge_round(cur: DataFrame) -> DataFrame:
        pc = (
            cur.select("cnt", F.explode(word_ngrams("split(sym, ' ')", 2)).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("cnt").cast("bigint").alias("pair_count"))
        )
        best, _ = cut(
            pc.orderBy(F.col("pair_count").desc(), F.col("pair"))
            .limit(1)
            .select(
                "pair",
                F.regexp_replace("pair", " ", "").alias("merged"),
                "pair_count",
            )
        )
        merges.append(
            best.select(
                F.lit(len(merges) + 1).cast("bigint").alias("merge_ord"),
                "pair",
                "merged",
                "pair_count",
            )
        )
        a = F.element_at(F.split(F.col("pair"), " "), 1)
        b = F.element_at(F.split(F.col("pair"), " "), 2)
        return cur.crossJoin(F.broadcast(best.select("pair"))).select(
            "word",
            "cnt",
            bpe_apply_merge(F.col("sym"), a, b).alias("sym"),
        )

    cur, _ = cut(wc.select("word", "cnt", bpe_symbolize("word").alias("sym")))
    cur, _ = fixpoint(cur, merge_round, _L4M3_MERGES)
    return merges, cur


def _l5k2_oracle() -> str:
    mean = f"ROUND({dsum_sql('trained_logit')} / COUNT(*), 8)"
    return f"""
WITH {_l5k_ctes()},
mdl AS (
  SELECT list(COALESCE(w2.w2, 0.0) ORDER BY d.bucket) AS wv
  FROM dim d LEFT JOIN w2 ON w2.bucket = d.bucket
),
prior AS (
  SELECT ROUND(LN(CAST(COUNT(*) FILTER (lang = 'en') AS DOUBLE)
               / CAST(COUNT(*) FILTER (lang <> 'en') AS DOUBLE)), 8) AS thr
  FROM documents
),
t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
scored AS (
  SELECT doc_id,
         CAST(LEN(toks) AS BIGINT) AS n_tokens,
         {quality_logit_sql("toks", "wv", bias_expr="b2.b2")} AS trained_logit
  FROM t CROSS JOIN mdl CROSS JOIN b2
),
mu AS (SELECT {mean} AS mu FROM scored)
SELECT doc_id, n_tokens, trained_logit,
       trained_logit > thr AS keep_quality,
       trained_logit > mu AS above_corpus_mean
FROM scored CROSS JOIN mu CROSS JOIN prior
"""


@register(
    "l5k2_trained_quality_gate",
    oracle=_l5k2_oracle(),
    tags=("L5", "L4", "J8", "F4"),
)
def l5k2_trained_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN -> APPLY closed end-to-end (r8 verdict next-step #6):
    score every document through l5i's exact gate shape — broadcast
    1-row weight array, in-row hashed unigram+bigram features, the
    fixed-order quality_logit fold — but with the weights AND
    intercept the l5k in-engine trainer just learned (weight_final /
    bucket -1), not the md5 stand-in. This is the production CCNet
    loop as one composed query: train on weak labels, gate the same
    corpus with the trained artifact.

    Plan shape: l5k's bounded-state training plan runs first (gradient
    shuffles collapse map-side to <= 256 rows); the 257-row model
    relation then folds to ONE broadcast row — array_sort(collect_list
    (bucket, w)) keeps the bucket order deterministic without a window
    — and the gate itself is l5i's pure map over document partitions:
    at 100 TB the apply side runs at scan speed, and in production the
    train side amortizes across days while the gate reads the
    persisted artifact. Determinism: the trained weights are 8dp
    rounds by l5k's step canon, the gate fold is the l4t fixed-order
    canon shared with the oracle via quality_logit_sql, and the logit
    is rounded 6dp before the keep comparison (fixture-audited off the
    0 boundary: min |logit| = 0.256 at sf0.01, the l5i discipline).

    Two flags on purpose. ``keep_quality`` is the classifier's
    absolute verdict under the CLASS-PRIOR CORRECTION (Elkan, IJCAI'01
    "The foundations of cost-sensitive learning" §2; Saerens et al.
    2002): a model trained on imbalanced labels absorbs the training
    prior into its intercept, so the balanced decision "more likely
    trusted than not, priors equalized" is logit > ln(n_pos/n_neg),
    not logit > 0. The raw logit > 0 rule was DEGENERATE at fixture
    scale (kept zero docs — two GD steps from zero init leave the
    prior-dominated intercept in charge; r9 verdict what's-wrong #2,
    measured again before this fix: a third GD step still kept zero,
    min |logit| = 0.256 at sf0.01). The prior-shifted rule keeps
    269/500 at sf0.01 (334/500 at sf0.001, 2511/5000 at sf0.1) —
    strictly between 0 and 1 everywhere, a real decision boundary.
    ``above_corpus_mean`` is the relative tier production pipelines
    actually cut on (CCNet keeps the best PERCENTILES of its
    perplexity score); it disagrees with the prior-shifted verdict on
    28 sf0.01 docs, so the driver row certifies two distinct
    boundaries. Determinism of the new threshold: the count ratio is
    an exact IEEE division of integers, LN is one libm call rounded
    8dp whose fixture inputs sit 0.31+ eighth-decimal units from the
    rounding boundary (measured, tests/test_approx.py —
    the l5k sigmoid-margin discipline), and both comparisons then run
    on bit-identical doubles in both engines (the logit fold has no
    libm at all).

    PRECONDITION: both language classes non-empty (n_en > 0 AND
    n_rest > 0) — true of every fixture SF; a degenerate single-class
    corpus raises in-plan (r10 advice,
    tests/test_approx.py::test_l5k2_degenerate_corpus_raises) rather
    than diverging cross-engine on NULL-vs--inf thresholds."""
    model = l5k_train_quality_weights(spark, sf_dir)
    wrow = (
        model.filter(F.col("bucket") >= 0)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("bucket", "weight_final"))
            ).alias("s")
        )
        .select(
            F.transform(F.col("s"), lambda x: x["weight_final"]).alias("wv")
        )
    )
    brow = model.filter(F.col("bucket") == -1).select(
        F.col("weight_final").alias("b0")
    )
    d = load(spark, sf_dir, "documents")
    # PRECONDITION (r10 advice): the class-prior threshold
    # ln(n_en/n_rest) needs BOTH classes non-empty — n_rest=0 divides
    # by zero and n_en=0 hits log(0), where the engines diverge
    # (Spark F.log(0) -> NULL, DuckDB LN(0) -> -inf). Fixtures
    # guarantee both classes at every SF, so the guard is latent; a
    # degenerate corpus now raises loudly in-plan instead of gating
    # on a NULL/-inf threshold. The raise lives INSIDE thr's
    # expression tree (not a separate assert column Catalyst could
    # prune away with the projection).
    prior = (
        d.agg(
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
            .cast("double")
            .alias("n_en"),
            F.sum(F.when(F.col("lang") != "en", 1).otherwise(0))
            .cast("double")
            .alias("n_rest"),
        )
        .select(
            F.when(
                (F.col("n_en") > 0) & (F.col("n_rest") > 0),
                F.round(F.log(F.col("n_en") / F.col("n_rest")), 8),
            )
            .otherwise(
                F.raise_error(
                    F.lit(
                        "l5k2: degenerate corpus — the class-prior "
                        "threshold ln(n_en/n_rest) requires both "
                        "classes non-empty"
                    )
                )
            )
            .alias("thr")
        )
    )
    logit = quality_logit("toks", bias="b0")
    scored = (
        d.select("doc_id", tokenize(F.col("text")).alias("toks"))
        .crossJoin(F.broadcast(wrow))
        .crossJoin(F.broadcast(brow))
        .select(
            "doc_id",
            F.size("toks").cast("bigint").alias("n_tokens"),
            logit.alias("trained_logit"),
        )
    )
    mu = scored.agg(
        F.round(
            dsum("trained_logit")
            / F.count(F.lit(1)),
            8,
        ).alias("mu")
    )
    return (
        scored.crossJoin(F.broadcast(mu))
        .crossJoin(F.broadcast(prior))
        .select(
            "doc_id",
            "n_tokens",
            "trained_logit",
            (F.col("trained_logit") > F.col("thr")).alias("keep_quality"),
            (F.col("trained_logit") > F.col("mu")).alias("above_corpus_mean"),
        )
    )


def _l4m4_oracle() -> str:
    last = f"s{_L4M3_MERGES}"
    chain = ",\n".join(_l4m3_ctes())
    return f"""
WITH {chain},
enc AS (SELECT word, LEN(string_split(sym, ' ')) AS n_sym FROM {last}),
dw AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM documents)
SELECT dw.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(e.n_sym) AS BIGINT) AS n_bpe_tokens,
       ROUND(CAST(SUM(e.n_sym) AS DOUBLE) / COUNT(*), 8) AS symbols_per_word
FROM dw JOIN enc e ON e.word = dw.word
GROUP BY 1
"""


@register(
    "l4m4_learned_bpe_encode",
    oracle=_l4m4_oracle(),
    tags=("L4", "A1", "J8", "F4"),
)
def l4m4_learned_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN -> APPLY for the tokenizer seam (r8 verdict next-step #6):
    encode the corpus with the merge table l4m3 just LEARNED — per
    document, the whitespace word count, the learned-BPE symbol count
    after all 8 merges, and the symbols-per-word compression ratio
    (the number a tokenizer team actually tracks when growing a merge
    list; l4m2/l4q's whitespace-proxy packing and encode swap this in
    unchanged).

    Plan shape: the training loop's FINAL vocabulary (word, cnt, sym)
    — vocabulary-sized, cut-bounded — maps each word to
    its symbol count; the corpus explodes once and joins that
    broadcast-tiny relation (the l4q encode topology: vocab broadcast,
    corpus side one map pass + one per-doc aggregate). At 100 TB the
    encode is scan-speed with a KB-MB side table, exactly how
    production tokenizers apply merges.txt. Determinism: integer
    counts throughout; the one emitted ratio is a single exact IEEE
    division rounded 8dp on both engines."""
    _, vocab = _l4m3_train(spark, sf_dir)
    enc = vocab.select(
        "word", F.size(F.split("sym", " ")).alias("n_sym")
    )
    d = load(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(tokenize(F.col("text"))).alias("word"))
    return (
        words.join(F.broadcast(enc), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_sym").cast("bigint").alias("n_bpe_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_bpe_tokens",
            F.round(
                F.col("n_bpe_tokens").cast("double") / F.col("n_words"), 8
            ).alias("symbols_per_word"),
        )
    )
