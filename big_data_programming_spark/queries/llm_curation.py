"""Training-data curation operators beyond the core L-family
(SURVEY.md §2.12 X15-X18): context-window chunking, PII masking,
Gopher-style repetition signals, and benchmark decontamination.

All four are pure built-in-expression plans (split/HOF/regexp/window)
— whole-stage codegen, no Python crossing. Chunking and masking are
embarrassingly parallel maps; repetition needs one hash-partitioned
aggregate; decontamination is a broadcast join against the (small)
eval-set shingle table. Each shape survives 100 TB unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_programming_spark.functions.canonical import cos_sql
from big_data_programming_spark.operators.similarity import (
    as_double_array,
    collect_vector_array,
    cosine_similarity_col,
)
from big_data_programming_spark.operators.text import (
    MAX_TOKEN_FREQ_SQL,
    basic_gate,
    basic_gate_sql,
    gate_flags,
    gate_flags_sql,
    l5i_weights_sql,
    max_token_freq,
    shingle_hashes,
    shingle_hashes_sql,
    tokenize,
    with_quality_weights,
    word_ngrams,
    word_ngrams_sql,
)
from big_data_programming_spark.registry import register
from big_data_programming_spark.sources.loaders import load

#: Chunking geometry: 200-char windows, 150-char stride (50 overlap).
CHUNK_LEN = 200
CHUNK_STRIDE = 150


@register(
    "l4f_chunk_documents",
    oracle=f"""
SELECT doc_id,
       CAST((s.start - 1) / {CHUNK_STRIDE} AS INT) AS chunk_idx,
       CAST(s.start AS BIGINT) AS chunk_start,
       CAST(LENGTH(SUBSTRING(text, CAST(s.start AS INT), {CHUNK_LEN})) AS INT) AS chunk_len,
       md5(SUBSTRING(text, CAST(s.start AS INT), {CHUNK_LEN})) AS chunk_md5
FROM documents, UNNEST(generate_series(1, n_chars, {CHUNK_STRIDE})) AS s(start)
WHERE n_chars >= 1
""",
    tags=("L4", "F1", "F4"),
)
def l4f_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split each document into fixed 200-char
    windows with 50-char overlap (the shape of an embedding / training
    chunker). Pure per-row map — `sequence` builds the start offsets,
    `posexplode` emits one row per chunk, `substring` slices. No
    shuffle at all; at 100 TB this is a single map stage whose output
    partitioning inherits the scan's."""
    d = load(spark, sf_dir, "documents").filter(F.col("n_chars") >= 1)
    starts = F.sequence(F.lit(0), F.col("n_chars") - 1, F.lit(CHUNK_STRIDE))
    chunk = F.substring(F.col("text"), F.col("start") + 1, CHUNK_LEN)
    return (
        d.select("doc_id", "text", F.posexplode(starts).alias("chunk_idx", "start"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int"),
            (F.col("start") + 1).cast("bigint").alias("chunk_start"),
            F.length(chunk).cast("int").alias("chunk_len"),
            F.md5(chunk.cast("binary")).alias("chunk_md5"),
        )
    )


#: POSIX-simple PII patterns — Java regex and RE2 agree on these.
_EMAIL_RE = "[a-z0-9.]+@[a-z0-9.]+"
_PHONE_RE = "[0-9]{3}-[0-9]{4}"


@register(
    "l4g_pii_mask",
    oracle=f"""
WITH with_pii AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail.example.com or call 555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
  FROM documents
)
SELECT doc_id,
       CAST(LEN(regexp_extract_all(t, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(LEN(regexp_extract_all(t, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
       md5(regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g')) AS masked_md5
FROM with_pii
""",
    tags=("L5", "F1"),
)
def l4g_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: count and mask email / phone patterns.

    The fixture corpus is synthetic word-soup with no real PII, so the
    query first *injects* a deterministic email+phone per document and
    then redacts it — the masking expressions (`regexp_count`,
    chained global `regexp_replace`) are exactly the production ones.
    Pure map stage: no shuffle, trivially parallel at any scale."""
    d = load(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    masked = F.regexp_replace(
        F.regexp_replace(t, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.regexp_count(t, F.lit(_EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(t, F.lit(_PHONE_RE)).cast("bigint").alias("n_phones"),
        F.md5(masked.cast("binary")).alias("masked_md5"),
    )


@register(
    "l4h_repetition_signals",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), freq AS (
  {MAX_TOKEN_FREQ_SQL}
), arr AS (
  SELECT doc_id,
         LEN(t) AS n_tokens,
         LEN(list_distinct(t)) AS distinct_tokens,
         {word_ngrams_sql("t", 2)} AS bg
  FROM toks
)
SELECT a.doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(distinct_tokens AS BIGINT) AS distinct_tokens,
       CAST(f.max_freq AS DOUBLE) / n_tokens AS top_token_frac,
       CAST(LEN(bg) AS BIGINT) AS n_bigrams,
       CAST(LEN(bg) - LEN(list_distinct(bg)) AS DOUBLE)
         / NULLIF(LEN(bg), 0) AS dup_bigram_frac
FROM arr a JOIN freq f ON a.doc_id = f.doc_id
""",
    tags=("L4", "L5", "A1", "F4"),
)
def l4h_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: top-token
    frequency fraction and duplicate-bigram fraction (high values mark
    boilerplate / degenerate text for the quality gate).

    Array-side signals (distinct tokens, bigram dedup) are computed
    with HOFs inside the row — no explode, no shuffle. Only the
    top-token frequency needs an aggregate, and it shuffles
    per-(doc, token) counts already shrunk by map-side combine. All
    fractions are raw IEEE double divisions of integers — bitwise
    identical across engines, no rounding step to disagree on."""
    d = load(spark, sf_dir, "documents")
    base = d.select("doc_id", tokenize(F.col("text")).alias("t"))
    bg = word_ngrams("t", 2)
    arr = base.select(
        "doc_id",
        F.size("t").cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(F.col("t"))).cast("bigint").alias("distinct_tokens"),
        F.size(bg).cast("bigint").alias("n_bigrams"),
        (F.size(bg) - F.size(F.array_distinct(bg))).cast("bigint").alias("dup_bigrams"),
    )
    return arr.join(max_token_freq(base), "doc_id").select(
        "doc_id",
        "n_tokens",
        "distinct_tokens",
        (F.col("max_freq").cast("double") / F.col("n_tokens")).alias("top_token_frac"),
        "n_bigrams",
        (
            F.col("dup_bigrams").cast("double")
            / F.nullif(F.col("n_bigrams"), F.lit(0))
        ).alias("dup_bigram_frac"),
    )


#: Decontamination geometry: 8-token shingles; every ~13th doc is "eval".
_DECON_K = 8
_EVAL_MOD = 13


@register(
    "l4i_decontamination",
    oracle=f"""
WITH shingled AS (
  SELECT doc_id,
         list_distinct({shingle_hashes_sql("string_split(text, ' ')", _DECON_K)}) AS sh
  FROM documents
), eval_sh AS (
  SELECT DISTINCT u.h FROM shingled, UNNEST(sh) AS u(h)
  WHERE doc_id % {_EVAL_MOD} = 0
), train AS (
  SELECT doc_id, u.h FROM shingled, UNNEST(sh) AS u(h)
  WHERE doc_id % {_EVAL_MOD} <> 0
)
SELECT t.doc_id, COUNT(*) AS n_overlap_shingles
FROM train t JOIN eval_sh e ON t.h = e.h
GROUP BY t.doc_id
""",
    tags=("L4", "L2", "J3", "F7"),
)
def l4i_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    8-token shingle with the eval set (here: every 13th doc stands in
    for a benchmark). Output = contaminated doc → overlapping-shingle
    count.

    Scale shape: the eval side is benchmark-sized (thousands of docs,
    not billions), so its distinct shingle hashes BROADCAST and the
    check is a map-side hash probe over the training corpus — no
    corpus-wide shuffle. The per-(doc, shingle) count aggregate is the
    only exchange, and only matched rows (rare in real corpora) reach
    it. spread_fanout_input (r12, guide §2.5) redistributes the doc
    rows when the scan yields fewer partitions than the cluster has
    slots (the single-file fixture = ONE task for the whole shingle
    explode + probe — measured 3.9 s single-task vs 2.2 s spread at
    sf0.1); a no-op at real scale."""
    from big_data_programming_spark.operators.dedup import spread_fanout_input

    d = spread_fanout_input(load(spark, sf_dir, "documents"))
    toks = tokenize(F.col("text"))
    shingles = F.array_distinct(shingle_hashes(toks, _DECON_K))
    shingled = d.select("doc_id", shingles.alias("sh"))
    eval_sh = (
        shingled.filter(F.col("doc_id") % _EVAL_MOD == 0)
        .select(F.explode(F.col("sh")).alias("h"))
        .distinct()
    )
    train = shingled.filter(F.col("doc_id") % _EVAL_MOD != 0).select(
        "doc_id", F.explode(F.col("sh")).alias("h")
    )
    return (
        train.join(F.broadcast(eval_sh), "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap_shingles"))
    )


def ngram_hits(docs: DataFrame, train: DataFrame) -> DataFrame:
    """l4i's rule as a per-document flag: ``(doc_id, _ng)`` for every
    ``train`` row (``doc_id``, token array ``toks``) that shares an
    8-token shingle with the eval slice of ``docs``, probing the
    broadcast distinct eval shingle set. l5g and l5j apply it; the
    DuckDB twin is ``ev_sh``/``ngram_hits`` in ``_PIPE_CTES``."""
    shingles = F.array_distinct(shingle_hashes(F.col("toks"), _DECON_K))
    ev_sh = (
        docs.filter(F.col("doc_id") % _EVAL_MOD == 0)
        .select(tokenize(F.col("text")).alias("toks"))
        .select(F.explode(shingles).alias("h"))
        .distinct()
    )
    return (
        train.select("doc_id", F.explode(shingles).alias("h"))
        .join(F.broadcast(ev_sh), "h")
        .select("doc_id")
        .distinct()
        .select("doc_id", F.lit(True).alias("_ng"))
    )


#: Per-source document cap (domain balancing).
_CAP_N = 30


@register(
    "l4j_domain_cap",
    oracle=f"""
WITH ranked AS (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
)
SELECT doc_id, source, n_chars, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= {_CAP_N}
""",
    tags=("L5", "W6", "P5"),
)
def l4j_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap sampling: keep at most N documents per source,
    chosen by deterministic hash order (md5 of doc_id) so the kept set
    is a uniform, reproducible sample — the domain-balancing pass that
    stops a handful of giant crawl domains from dominating the corpus.

    One hash-partitioned window per source; with AQE skew handling the
    giant-domain partitions split automatically. The rank order is a
    total order (hash, then doc_id) so re-runs keep identical rows —
    required for incremental corpus rebuilds."""
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string").cast("binary")), "doc_id"
    )
    return (
        d.select("doc_id", "source", "n_chars")
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= _CAP_N)
    )


@register(
    "l4l_char_diversity",
    oracle="""
WITH c AS (
  SELECT doc_id,
         CAST(length(text) AS DOUBLE) AS n,
         list_transform(generate_series(1, length(text)), i -> substr(text, i, 1)) AS chars
  FROM documents
  WHERE length(text) >= 1
), d AS (
  SELECT doc_id, n,
         list_transform(
           list_sort(list_distinct(chars)),
           ch -> len(list_filter(chars, x -> x = ch))) AS counts
  FROM c
)
SELECT doc_id,
       CAST(len(counts) AS BIGINT) AS n_distinct_chars,
       list_reduce(
         list_prepend(CAST(0.0 AS DOUBLE),
                      list_transform(counts, k -> (CAST(k AS DOUBLE) / n) * (CAST(k AS DOUBLE) / n))),
         (x, y) -> x + y) AS simpson_index,
       CAST(list_max(counts) AS DOUBLE) / n AS top_char_frac
FROM d
""",
    tags=("L4", "F1", "F4"),
)
def l4l_char_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-diversity quality signals — the log-free cousins of
    Shannon entropy (Simpson index = collision probability; its
    reciprocal is the effective alphabet size): low diversity / high
    top-char fraction flags gibberish, ASCII-art, and
    single-character flooding that survive word-level filters (l4h
    covers token-level repetition). Deliberately Simpson rather than
    Shannon: the sum is pure fixed-order IEEE arithmetic over the
    in-row array (sorted distinct chars), bit-identical across
    engines, where log2's last-ulp behavior is libm-specific. All
    in-row HOFs (sequence → substring shingle → filter counts),
    shuffle-free, whole-stage codegen."""
    d = load(spark, sf_dir, "documents").filter(F.length("text") >= 1)
    chars = F.transform(
        F.sequence(F.lit(1), F.length("text")),
        lambda i: F.substring(F.col("text"), i, F.lit(1)),
    )
    n = F.length("text").cast("double")
    withc = d.select(
        "doc_id",
        n.alias("n"),
        F.transform(
            F.array_sort(F.array_distinct(chars)),
            lambda ch: F.size(F.filter(chars, lambda x: x == ch)),
        ).alias("counts"),
    )
    frac_sq = lambda k: (k.cast("double") / F.col("n")) * (k.cast("double") / F.col("n"))  # noqa: E731
    return withc.select(
        "doc_id",
        F.size("counts").cast("bigint").alias("n_distinct_chars"),
        F.aggregate(
            F.col("counts"), F.lit(0.0), lambda acc, k: acc + frac_sq(k)
        ).alias("simpson_index"),
        (F.array_max("counts").cast("double") / F.col("n")).alias("top_char_frac"),
    )


#: Sequence-packing context size (tokens per packed bin).
PACK_CAP = 512


@register(
    "l4m_sequence_packing",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), offs AS (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS start_offset
  FROM toks
)
SELECT source,
       CAST(start_offset // {PACK_CAP} AS BIGINT) AS bin_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       MIN(doc_id) AS first_doc_id
FROM offs
GROUP BY 1, 2
""",
    tags=("L4", "W4", "A1"),
)
def l4m_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — concatenate-and-cut assignment of documents
    to fixed-token-budget training bins (the standard pretraining
    batching shape: docs are concatenated per stream and cut every
    PACK_CAP tokens; a doc belongs to the bin its start offset falls
    in). One window cumsum per source + one aggregate; deterministic
    given the (source, doc_id) order, so rebuilding the corpus
    reproduces identical bins. At 100 TB the per-source window is the
    only shuffle, and the giant-source skew case is the same one
    l4j's AQE skew-split note covers."""
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offs = toks.withColumn(
        "start_offset", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return (
        offs.groupBy(
            "source", F.expr(f"start_offset div {PACK_CAP}").alias("bin_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("first_doc_id"),
        )
    )


@register(
    "l4m2_bpe_proxy_packing",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source,
         -- strlen = BYTE length in DuckDB (octet_length is BLOB-only)
         GREATEST(CAST(1 AS BIGINT),
                  CAST((strlen(text) + 3) // 4 AS BIGINT)) AS est_tokens,
         CAST(LEN(regexp_extract_all(text,
              '[A-Za-z0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_pretokens
  FROM documents
), offs AS (
  SELECT doc_id, source, est_tokens, n_pretokens,
         SUM(est_tokens) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - est_tokens AS start_offset
  FROM toks
)
SELECT source,
       CAST(start_offset // {PACK_CAP} AS BIGINT) AS bin_id,
       COUNT(*) AS n_docs,
       CAST(SUM(est_tokens) AS BIGINT) AS total_est_tokens,
       CAST(SUM(n_pretokens) AS BIGINT) AS total_pretokens,
       MIN(doc_id) AS first_doc_id
FROM offs
GROUP BY 1, 2
""",
    tags=("L4", "W4", "A1", "F1"),
)
def l4m2_bpe_proxy_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing under trainer-style token accounting (the l4m
    variant the r4 verdict suggested): whitespace token counts
    under-estimate what a BPE tokenizer emits, so bins packed by them
    overflow the real context window. This packs by the standard
    byte-proxy estimate — ceil(bytes/4), floored at 1 (the ~4
    bytes/token rule of thumb for English-like text) — and also
    reports a BPE-pre-tokenizer-shaped count (alphanumeric runs +
    individual non-space symbols via one regexp count) for
    calibration. Integer arithmetic end to end, so both engines bin
    identically; the explicit [A-Za-z0-9] class (not \\w) keeps the
    Java-regex and RE2 match sets identical. Same scale shape as l4m:
    one per-source window cumsum + one aggregate; the estimate is
    in-row, so switching to a real tokenizer UDF later changes only
    the est_tokens expression, not the plan."""
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.greatest(
            F.lit(1).cast("bigint"),
            F.expr("(octet_length(text) + 3) div 4").cast("bigint"),
        ).alias("est_tokens"),
        F.regexp_count(F.col("text"), F.lit("[A-Za-z0-9]+|[^A-Za-z0-9 ]"))
        .cast("bigint")
        .alias("n_pretokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offs = toks.withColumn(
        "start_offset", F.sum("est_tokens").over(w) - F.col("est_tokens")
    )
    return offs.groupBy(
        "source", F.expr(f"start_offset div {PACK_CAP}").alias("bin_id")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("est_tokens").alias("total_est_tokens"),
        F.sum("n_pretokens").alias("total_pretokens"),
        F.min("doc_id").alias("first_doc_id"),
    )


@register(
    "l4n_weighted_sample",
    oracle="""
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         CAST(CAST(CONCAT('0x', SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE)
           / CAST(n_chars AS DOUBLE) AS priority
  FROM documents
  WHERE n_chars > 0
)
SELECT doc_id, source, n_chars
FROM keyed
QUALIFY ROW_NUMBER() OVER (PARTITION BY source ORDER BY priority, doc_id) <= 10
""",
    tags=("L4", "P5", "W6", "F7"),
)
def l4n_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weight-biased sampling: keep the 10 docs per
    source with the lowest hash-priority key = hash(doc_id) / weight
    (weight = n_chars, standing in for a quality score) — longer/
    higher-quality docs get proportionally smaller keys and higher
    inclusion odds, and the same corpus always reproduces the same
    sample (the md5 key is the RNG, as in p5b/l4j). For the exact
    Efraimidis-Spirakis distribution the key becomes u^(1/w) — a
    transcendental whose last-ulp behavior is libm-specific, so this
    repo ships the rational-arithmetic variant the oracle can pin
    bit-for-bit; the plan (per-group top-k window over a pure map) is
    identical either way."""
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    keyed = d.select(
        "doc_id",
        "source",
        "n_chars",
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 15), 16, 10)
            .cast("double")
            / F.col("n_chars").cast("double")
        ).alias("priority"),
    )
    w = Window.partitionBy("source").orderBy("priority", "doc_id")
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("doc_id", "source", "n_chars")
    )


#: Semantic-decontamination geometry: the SAME benchmark slice as
#: l4i's shingle pass (every ``_EVAL_MOD``-th doc), flagged at
#: embedding cosine >= 0.35 (the corpus's l2e separation point).
_SEMDECON_TH = 0.35

#: Every (train-slice vector, eval-slice vector) pair with its cosine
#: (the shared fold-order canon cos_sql), ``(vec_id, eid, cos)``:
#: ONE spelling of the eval split for the DuckDB twins of l4t (argmax)
#: and :func:`eval_max_cos` (max).
_EVAL_COS_PAIRS_SQL = f"""SELECT t.vec_id, e.vec_id AS eid,
         {cos_sql('t.embedding', 'e.c')} AS cos
  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id % {_EVAL_MOD} <> 0) t
  CROSS JOIN (SELECT vec_id, embedding AS c FROM embeddings
              WHERE vec_id % {_EVAL_MOD} = 0) e"""


@register(
    "l4t_semantic_decontamination",
    oracle=f"""
WITH scored AS (
  {_EVAL_COS_PAIRS_SQL}
), best AS (
  SELECT vec_id, eid, cos,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, eid) AS rn
  FROM scored
)
SELECT vec_id, ROUND(cos, 8) AS max_eval_cos,
       CAST(eid AS BIGINT) AS nearest_eval_id,
       cos >= {_SEMDECON_TH} AS contaminated
FROM best WHERE rn = 1
""",
    tags=("L4", "L3", "L5", "J8"),
)
def l4t_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination — the embedding companion to l4i's
    n-gram shingle pass, against the SAME benchmark slice (every
    {_EVAL_MOD}-th doc): a paraphrased eval question shares no 8-token
    shingle with its training leak, but its embedding still lands
    within cosine {_SEMDECON_TH} — the gap the n-gram pass cannot see
    and the reason production pipelines run both. Output: per training
    vector, the max cosine against any eval vector, the nearest eval
    id (attribution for manual review), and the contaminated flag.

    Plan shape: the eval side is benchmark-sized (thousands, never
    corpus-sized), so it collapses to ONE broadcast row holding the
    (id, vector) struct array, and the max-cosine scan is an IN-ROW
    array_max over that array — a pure map over the training corpus,
    NO |train| x |eval| row materialization (at 100 TB with a 10k-row
    eval set, an exploded pair join would be 10,000x the corpus; this
    is the l2m assignment discipline). Tie-break toward the smaller
    eval id, pinned identically in the oracle's window order. Cosines
    fold left-to-right on both engines (bit-identical doubles);
    threshold compares the raw double, output rounds to 8 dp."""
    train, ev = _eval_vectors(load(spark, sf_dir, "embeddings"))
    best = F.array_max(
        F.transform(
            F.col("evals"),
            lambda e: F.struct(
                cosine_similarity_col(F.col("v"), e.getField("c")).alias("cos"),
                (-e.getField("eid")).alias("negid"),
            ),
        )
    )
    return (
        train.crossJoin(F.broadcast(ev))
        .select("vec_id", best.alias("best"))
        # Empty eval slice: the ungrouped agg still yields one row with
        # an empty array, so array_max is NULL — drop those rows to
        # match the oracle's zero-row CROSS JOIN semantics (the same
        # latent-divergence class as the r4 jaccard df-cap advice).
        .filter(F.col("best").isNotNull())
        .select(
            "vec_id",
            F.round(F.col("best").getField("cos"), 8).alias("max_eval_cos"),
            (-F.col("best").getField("negid")).alias("nearest_eval_id"),
            (F.col("best").getField("cos") >= _SEMDECON_TH).alias("contaminated"),
        )
    )


def _eval_vectors(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The embeddings as f64 ``(vec_id, v)`` rows of the train slice,
    and the eval slice collapsed to the 1-row ``evals`` array."""
    v = emb.select("vec_id", as_double_array(F.col("embedding")).alias("v"))
    return (
        v.filter(F.col("vec_id") % _EVAL_MOD != 0),
        collect_vector_array(v.filter(F.col("vec_id") % _EVAL_MOD == 0)),
    )


def eval_max_cos(emb: DataFrame) -> DataFrame:
    """l4t's rule without the argmax: ``(vec_id, mx)``, each train-slice
    vector's max cosine against the broadcast 1-row eval array (an
    in-row array_max, no |train| x |eval| rows). l5g, l5j and dq9
    apply it; twin of :data:`EVAL_MAX_COS_SQL`."""
    train, ev = _eval_vectors(emb)
    mx = F.array_max(
        F.transform(
            F.col("evals"),
            lambda e: cosine_similarity_col(F.col("v"), e.getField("c")),
        )
    )
    return train.crossJoin(F.broadcast(ev)).select("vec_id", mx.alias("mx"))


#: DuckDB twin of :func:`eval_max_cos`.
EVAL_MAX_COS_SQL = f"""SELECT vec_id, MAX(cos) AS mx FROM (
  {_EVAL_COS_PAIRS_SQL}
  ) GROUP BY 1"""


#: Pipeline-verdict gate order: the cheap scan gates run first (the
#: order a production pipeline applies them — cheapest rejection
#: first), contamination last; `verdict` names the FIRST failing
#: stage so a threshold change's impact is attributable per stage.
#: low_quality (the l5i fastText-style classifier, round 7) slots
#: after the heuristic gates and before the join-bearing
#: contamination stages — the CCNet/GPT-3 position.
_VERDICT_STAGES = (
    "exact_dup",
    "bad_length",
    "low_stopword",
    "low_quality",
    "contaminated_ngram",
    "contaminated_semantic",
)


def first_fail_sql(stages: tuple[str, ...]) -> str:
    """The verdict over boolean stage columns: the name of the FIRST
    stage whose flag is true, in ``stages`` order, else 'keep'. The
    same CASE text parses in Spark SQL and DuckDB, so
    :func:`first_fail` is this string parsed (l5g, l5j, lm10)."""
    whens = " ".join(f"WHEN {s} THEN '{s}'" for s in stages)
    return f"CASE {whens} ELSE 'keep' END"


def first_fail(stages: tuple[str, ...]) -> Column:
    """Spark twin of :func:`first_fail_sql`."""
    return F.expr(first_fail_sql(stages))


#: Shared oracle fragments — ONE definition of the train slice, the
#: per-gate side tables, the stage flag expressions, and the gate
#: join set, composed by the l5g, l5h (via l5g) and l5j oracles. The
#: n-gram probe (``ev_sh``, ``ngram_hits``) is :func:`ngram_hits`'s
#: twin and ``sem`` is :data:`EVAL_MAX_COS_SQL`.
_PIPE_CTES = f"""w AS (SELECT {l5i_weights_sql()} AS wv),
train AS (
  SELECT doc_id, text, source, string_split(text, ' ') AS toks
  FROM documents WHERE doc_id % {_EVAL_MOD} <> 0
), hashes AS (
  SELECT doc_id, md5(text) AS h FROM train
), firsts AS (
  SELECT h, MIN(doc_id) AS keeper FROM hashes GROUP BY 1
), ev_sh AS (
  SELECT DISTINCT u.h
  FROM (SELECT list_distinct({shingle_hashes_sql("string_split(text, ' ')", _DECON_K)}) AS sh
        FROM documents WHERE doc_id % {_EVAL_MOD} = 0),
       UNNEST(sh) AS u(h)
), ngram_hits AS (
  SELECT DISTINCT t.doc_id
  FROM (SELECT doc_id, UNNEST(list_distinct({shingle_hashes_sql("toks", _DECON_K)})) AS h
        FROM train) t
  JOIN ev_sh ON t.h = ev_sh.h
), sem AS (
  {EVAL_MAX_COS_SQL}
)"""

#: Every l5g/l5j stage flag over the aliases of _GATE_JOINS_SQL (and
#: l5j's url/sig joins); twin of :func:`_stage_flags`.
_STAGE_FLAGS_SQL = {
    "url_dup": "tr.doc_id <> uk.ukeeper",
    "exact_dup": "tr.doc_id <> f.keeper",
    **gate_flags_sql("tr.toks", "wv"),
    "near_dup_simhash": "tr.doc_id <> sk.skeeper",
    "contaminated_ngram": "nh.doc_id IS NOT NULL",
    "contaminated_semantic": f"COALESCE(s.mx >= {_SEMDECON_TH}, FALSE)",
}


def _stage_flags_sql(stages: tuple[str, ...]) -> str:
    return ",\n         ".join(f"{_STAGE_FLAGS_SQL[s]} AS {s}" for s in stages)


def _stage_flags(stages: tuple[str, ...]) -> list[Column]:
    """The l5g/l5j stage flags, one boolean column per name in
    ``stages``, over the per-doc relation their joins assemble
    (``keeper``/``ukeeper``/``skeeper``, ``toks``, ``wv``, ``_ng``,
    ``mx``)."""
    flags = {
        "url_dup": F.col("doc_id") != F.col("ukeeper"),
        "exact_dup": F.col("doc_id") != F.col("keeper"),
        **gate_flags("toks", "wv"),
        "near_dup_simhash": F.col("doc_id") != F.col("skeeper"),
        "contaminated_ngram": F.coalesce(F.col("_ng"), F.lit(False)),
        "contaminated_semantic": F.coalesce(F.col("mx") >= _SEMDECON_TH, F.lit(False)),
    }
    return [flags[s].alias(s) for s in stages]


_GATE_JOINS_SQL = """FROM train tr
  CROSS JOIN w
  JOIN hashes h2 ON h2.doc_id = tr.doc_id
  JOIN firsts f ON f.h = h2.h
  LEFT JOIN ngram_hits nh ON nh.doc_id = tr.doc_id
  LEFT JOIN sem s ON s.vec_id = tr.doc_id"""

#: l5g's full oracle (shared with l5h's ablation rollup, which
#: aggregates over exactly this relation).
_L5G_ORACLE = f"""
WITH {_PIPE_CTES}, flags AS (
  SELECT tr.doc_id,
         {_stage_flags_sql(_VERDICT_STAGES)}
  {_GATE_JOINS_SQL}
)
SELECT doc_id, {", ".join(_VERDICT_STAGES)},
       {first_fail_sql(_VERDICT_STAGES)} AS verdict
FROM flags
"""


@register(
    "l5g_pipeline_verdict",
    oracle=_L5G_ORACLE,
    tags=("L5", "L1", "L4", "L2", "J8"),
)
def l5g_pipeline_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone per-document audit record a curation pipeline
    actually emits (the Dolma/RedPajama-style attribute file): every
    training document with one boolean per gate — exact duplicate
    (not the min-id holder of its md5 group), length bounds,
    stopword floor, fastText-style classifier quality (l5i's rule —
    the CCNet/GPT-3 linear gate, its 1-row model broadcast and
    in-row dot product riding the same scan), 8-token-shingle
    benchmark contamination (l4i's rule), semantic benchmark
    contamination (l4t's rule) — and a
    `verdict` naming the FIRST failing stage in pipeline order, so
    removal counts attribute to the stage that caused them rather
    than only to the final keep rate. Composes the registered gates
    into one artifact; each gate's standalone query remains the
    deep-dive view.

    Plan shape: each gate is independently cheap — the dup check is
    one md5-keyed aggregate joined back (skew-free hash keys), the
    length/stopword gates are in-row, the shingle probe broadcasts
    the benchmark-sized eval shingle set (l4i shape), the semantic
    probe broadcasts the 1-row eval embedding array and scans in-row
    (l4t shape) — and the verdict assembly is doc_id-keyed equi-joins
    of per-doc rows. Nothing here is corpus-quadratic; at 100 TB
    every stage is scan-plus-bounded-state, which is why production
    pipelines emit exactly this record in one pass over each shard.
    The doc side of the semantic gate joins embeddings on
    doc_id = vec_id (LEFT, so docs without vectors pass that gate)."""
    d = load(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % _EVAL_MOD != 0).select(
        "doc_id", "text", tokenize(F.col("text")).alias("toks")
    )
    hashes = train.select("doc_id", F.md5(F.col("text").cast("binary")).alias("h"))
    firsts = hashes.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    sem = eval_max_cos(load(spark, sf_dir, "embeddings")).select(
        F.col("vec_id").alias("doc_id"), "mx"
    )
    flags = with_quality_weights(
        train.join(hashes, "doc_id")
        .join(firsts, "h")
        .join(F.broadcast(ngram_hits(d, train)), "doc_id", "left")
        .join(sem, "doc_id", "left")
    ).select("doc_id", *_stage_flags(_VERDICT_STAGES))
    return flags.select(
        "doc_id", *_VERDICT_STAGES, first_fail(_VERDICT_STAGES).alias("verdict")
    )


@register(
    "l5h_gate_ablation",
    oracle=f"""
WITH v AS ({_L5G_ORACLE}),
n AS (
  SELECT COUNT(*) AS n_docs,
         {", ".join(
             f'''CAST(SUM(CAST({g} AS INT)) AS BIGINT) AS fl_{g},
         CAST(SUM(CASE WHEN {g} AND
               ({" + ".join(f"CAST({s} AS INT)" for s in _VERDICT_STAGES)}) = 1
             THEN 1 ELSE 0 END) AS BIGINT) AS ex_{g},
         CAST(SUM(CASE WHEN verdict = '{g}' THEN 1 ELSE 0 END) AS BIGINT)
           AS fa_{g}''' for g in _VERDICT_STAGES)}
  FROM v
)
{" UNION ALL ".join(
    f'''SELECT '{g}' AS gate, fl_{g} AS n_flagged, ex_{g} AS n_exclusive,
       fa_{g} AS n_first_attributed,
       CAST(fl_{g} AS DOUBLE) / n_docs AS flag_rate,
       CAST(n_docs AS BIGINT) AS n_docs FROM n''' for g in _VERDICT_STAGES)}
""",
    tags=("L5", "A2", "A11"),
)
def l5h_gate_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate ablation over the pipeline-verdict record — the removal-
    attribution table a curation run reports next to its attribute
    file: per gate, how many documents it flags (n_flagged), how many
    it ALONE flags (n_exclusive — the documents recovered if just
    this gate were dropped, the ablation number), and how many the
    pipeline attributes to it as the first failing stage
    (n_first_attributed — order-dependent, so Σ over gates =
    total removals while Σ n_flagged double-counts overlaps; the gap
    between the two columns IS the overlap structure).

    Plan shape: one aggregate pass over l5g's verdict relation
    computes all 15 gate statistics map-side-combined into a single
    row; the per-gate output rows unpivot that 1-row table in-memory
    (explode of a 5-element literal-keyed array — no second corpus
    pass, no join). Composes the registered l5g directly so the
    ablation provably describes the shipped verdict semantics."""
    v = l5g_pipeline_verdict(spark, sf_dir)
    n_fired = sum(F.col(g).cast("int") for g in _VERDICT_STAGES)
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    for g in _VERDICT_STAGES:
        aggs.append(F.sum(F.col(g).cast("int")).cast("bigint").alias(f"fl_{g}"))
        aggs.append(
            F.sum(F.when(F.col(g) & (n_fired == 1), 1).otherwise(0))
            .cast("bigint")
            .alias(f"ex_{g}")
        )
        aggs.append(
            F.sum(F.when(F.col("verdict") == g, 1).otherwise(0))
            .cast("bigint")
            .alias(f"fa_{g}")
        )
    one = v.agg(*aggs)
    gate_rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(g).alias("gate"),
                    F.col(f"fl_{g}").alias("n_flagged"),
                    F.col(f"ex_{g}").alias("n_exclusive"),
                    F.col(f"fa_{g}").alias("n_first_attributed"),
                )
                for g in _VERDICT_STAGES
            ]
        )
    )
    return one.select("n_docs", gate_rows.alias("g")).select(
        F.col("g.gate").alias("gate"),
        F.col("g.n_flagged").alias("n_flagged"),
        F.col("g.n_exclusive").alias("n_exclusive"),
        F.col("g.n_first_attributed").alias("n_first_attributed"),
        (F.col("g.n_flagged").cast("double") / F.col("n_docs")).alias("flag_rate"),
        F.col("n_docs").cast("bigint").alias("n_docs"),
    )


@register(
    "l4u_corpus_datasheet",
    oracle=f"""
WITH base AS (
  SELECT source, lang,
         md5(text) AS h,
         LEN(string_split(text, ' ')) AS n_tokens,
         {basic_gate_sql("string_split(text, ' ')")} AS keeps
  FROM documents
)
SELECT source, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT h) AS BIGINT) AS n_unique_texts,
       ROUND(1.0 - CAST(COUNT(DISTINCT h) AS DOUBLE) / COUNT(*), 8) AS dup_frac,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       ROUND(CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*), 6) AS mean_tokens,
       CAST(SUM(CASE WHEN keeps THEN 1 ELSE 0 END) AS BIGINT) AS n_keep_basic,
       ROUND(CAST(SUM(CASE WHEN keeps THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 8) AS keep_rate
FROM base
GROUP BY source, lang
""",
    tags=("L4", "L5", "L1", "A1", "A3"),
)
def l4u_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus datasheet — the per-(source, language) summary table
    a curated-dataset release publishes (the Dolma/RedPajama datasheet
    shape): document count, distinct-text count and the implied exact-
    duplicate fraction, token mass, mean document length, and how many
    documents clear the basic quality gate (l5's length + stopword
    rules, recomputed in-row so the datasheet needs no join against
    the gate query).

    Plan shape: ONE scan computes md5, token count, and the gate
    boolean in-row; one grouped aggregate (bounded |source|x|lang|
    groups) does everything else — COUNT(DISTINCT md5) is the only
    expensive aggregate and it shuffles 16-byte hashes with map-side
    partial distinct, the l1 discipline. At 100 TB this is one pass
    over each shard plus a tiny final merge; every release pipeline
    runs exactly this before publishing. Ratios are int/int IEEE
    divisions rounded on both engines."""
    d = load(spark, sf_dir, "documents")
    base = d.select(
        "source",
        "lang",
        F.md5(F.col("text").cast("binary")).alias("h"),
        tokenize(F.col("text")).alias("toks"),
    ).select(
        "source",
        "lang",
        "h",
        F.size("toks").cast("bigint").alias("n_tokens"),
        basic_gate("toks").alias("keeps"),
    )
    return base.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(F.col("h")).alias("n_unique_texts"),
        F.round(
            F.lit(1.0)
            - F.count_distinct(F.col("h")).cast("double") / F.count(F.lit(1)),
            8,
        ).alias("dup_frac"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.sum("n_tokens").cast("double") / F.count(F.lit(1)), 6).alias(
            "mean_tokens"
        ),
        F.sum(F.when(F.col("keeps"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_keep_basic"),
        F.round(
            F.sum(F.when(F.col("keeps"), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            8,
        ).alias("keep_rate"),
    )


#: l5j full pipeline order (Dolma/RedPajama stack): URL canonical dedup
#: -> exact dedup -> heuristic gates -> classifier gate -> fuzzy
#: (SimHash) dedup -> n-gram decontamination -> semantic
#: decontamination. A superset of _VERDICT_STAGES: the l5g gates keep
#: their relative order; url_dup runs first (the cheapest key) and the
#: near-dup collapse sits between the scan gates and the join-bearing
#: decontamination stages, where production pipelines put it.
_L5J_STAGES = (
    "url_dup",
    "exact_dup",
    "bad_length",
    "low_stopword",
    "low_quality",
    "near_dup_simhash",
    "contaminated_ngram",
    "contaminated_semantic",
)


def l5j_verdict_ctes_sql() -> str:
    """The l5j per-document verdict relation as a DuckDB WITH-fragment
    ending in CTE ``v`` with columns (source, n_tokens, verdict) —
    ONE definition shared by the l5j funnel oracle and lm9's curated
    mixing weights, so the mixer provably weights exactly the corpus
    the pipeline releases."""
    from big_data_programming_spark.operators.dedup import SIMHASH_ORACLE_SQL
    from big_data_programming_spark.operators.text import (
        canonicalize_url_sql,
        synthetic_url_sql,
    )

    return f"""WITH {_PIPE_CTES},
urls AS (
  SELECT doc_id,
         {canonicalize_url_sql(synthetic_url_sql())} AS cu
  FROM train
), url_keep AS (
  SELECT cu, MIN(doc_id) AS ukeeper FROM urls GROUP BY 1
), sig AS (
  {SIMHASH_ORACLE_SQL}
), sig_keep AS (
  SELECT sg.simhash_bits, MIN(sg.doc_id) AS skeeper
  FROM sig sg JOIN train t ON t.doc_id = sg.doc_id
  GROUP BY 1
), pflags AS (
  SELECT tr.doc_id, tr.source,
         CAST(LEN(tr.toks) AS BIGINT) AS n_tokens,
         {_stage_flags_sql(_L5J_STAGES)}
  {_GATE_JOINS_SQL}
  JOIN urls u ON u.doc_id = tr.doc_id
  JOIN url_keep uk ON uk.cu = u.cu
  JOIN sig sg ON sg.doc_id = tr.doc_id
  JOIN sig_keep sk ON sk.simhash_bits = sg.simhash_bits
), v AS (
  SELECT source, n_tokens, {first_fail_sql(_L5J_STAGES)} AS verdict
  FROM pflags
)"""


def funnel_tail_sql(stages: tuple[str, ...]) -> str:
    """DuckDB tail turning a CTE ``v(source, n_tokens, verdict)`` into
    the per-stage funnel relation (stage_ord, stage, docs_in,
    docs_removed, docs_out, tokens_out, removed_frac). ONE definition
    shared by the l5j batch capstone and lm10's incremental-batch
    twin, so the two funnels provably share their accounting
    arithmetic (the basic_gate_sql discipline)."""
    dim = " UNION ALL ".join(
        f"SELECT {i + 1} AS ord, '{s}' AS stage"
        for i, s in enumerate(stages + ("keep",))
    )
    return f""", per_v AS (
  SELECT verdict, CAST(COUNT(*) AS BIGINT) AS rm,
         CAST(SUM(n_tokens) AS BIGINT) AS rmt
  FROM v GROUP BY 1
), dim AS (
  {dim}
), j AS (
  SELECT d.ord, d.stage, COALESCE(p.rm, 0) AS rm, COALESCE(p.rmt, 0) AS rmt
  FROM dim d LEFT JOIN per_v p ON p.verdict = d.stage
), fun AS (
  SELECT ord, stage, rm, rmt,
         SUM(rm) OVER () AS n_total,
         SUM(rmt) OVER () AS tok_total,
         COALESCE(SUM(rm) OVER (ORDER BY ord
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
         SUM(rmt) OVER (ORDER BY ord
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ct
  FROM j
)
SELECT CAST(ord AS BIGINT) AS stage_ord, stage,
       CAST(n_total - cb AS BIGINT) AS docs_in,
       CAST(rm AS BIGINT) AS docs_removed,
       CAST(n_total - cb - rm AS BIGINT) AS docs_out,
       CAST(tok_total - ct AS BIGINT) AS tokens_out,
       ROUND(CAST(rm AS DOUBLE) / (n_total - cb), 6) AS removed_frac
FROM fun WHERE stage <> 'keep'
"""


def _l5j_oracle() -> str:
    return f"""
{l5j_verdict_ctes_sql()}{funnel_tail_sql(_L5J_STAGES)}"""


def l5j_doc_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The l5j per-document verdict relation ``(source, n_tokens,
    verdict)`` — the Spark twin of :func:`l5j_verdict_ctes_sql`'s
    ``v`` CTE, shared by the l5j funnel and lm9's curated mixing
    weights. Per-doc attributes are computed INDEPENDENTLY (Dolma's
    architecture: parallel attribute passes, ordered mixer) and
    reduced to the first-failing stage in _L5J_STAGES order.

    Plan shape: attributes are in-row where the standalone op is
    in-row (URL canon, gates, classifier — the wv model rides one
    broadcast row); the three dedup keepers are min-aggregates on
    hashed keys (16-60 byte shuffles, skew-free); decontamination
    probes broadcast the benchmark-sized eval sets. The tokenized
    train relation feeds FIVE attribute passes (URL canon, md5
    hashes, SimHash keeper join, shingle explode, the pflags
    assembly), so it is persisted once (MEMORY_AND_DISK — the
    l5e4/l2k2 materialization lesson, applied here in round 9 after
    the executed-scan audit measured 11 corpus scans): tokenize runs
    once and the keeper/probe sides read cached rows instead of five
    scan+tokenize lineages. This IS the Dolma attribute-file
    economics in-engine; at 100 TB the cache spills to local disk,
    which is still 5x cheaper than five remote corpus reads plus
    five tokenize passes. session.release_caches() is the documented
    release point. test_plans pins both the static FileScan bound
    and the runtime executed-scan count."""
    from big_data_programming_spark.operators.dedup import simhash
    from big_data_programming_spark.operators.text import (
        canonicalize_url,
        synthetic_url,
    )

    from pyspark import StorageLevel

    d = load(spark, sf_dir, "documents")
    # ONE corpus pass computes every per-row derivation (tokens, md5
    # hash) so the cached relation carries tokens + 32-char hash, NOT
    # the raw text — the cache is what five attribute passes re-read,
    # so it holds only what they need.
    train = (
        d.filter(F.col("doc_id") % _EVAL_MOD != 0)
        .select(
            "doc_id",
            "source",
            tokenize(F.col("text")).alias("toks"),
            F.md5(F.col("text").cast("binary")).alias("h"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    urls = train.select(
        "doc_id",
        canonicalize_url(
            synthetic_url(F.col("doc_id"), F.col("source"))
        ).alias("cu"),
    )
    url_keep = urls.groupBy("cu").agg(F.min("doc_id").alias("ukeeper"))
    firsts = train.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    sig = simhash(d)
    sig_keep = (
        sig.join(train.select("doc_id"), "doc_id")
        .groupBy("simhash_bits")
        .agg(F.min("doc_id").alias("skeeper"))
    )
    sem = eval_max_cos(load(spark, sf_dir, "embeddings")).select(
        F.col("vec_id").alias("doc_id"), "mx"
    )
    pflags = with_quality_weights(
        train.join(urls, "doc_id")
        .join(url_keep, "cu")
        .join(firsts, "h")
        .join(sig, "doc_id")
        .join(sig_keep, "simhash_bits")
        .join(F.broadcast(ngram_hits(d, train)), "doc_id", "left")
        .join(sem, "doc_id", "left")
    ).select(
        "source",
        F.size("toks").cast("bigint").alias("n_tokens"),
        *_stage_flags(_L5J_STAGES),
    )
    return pflags.select(
        "source", "n_tokens", first_fail(_L5J_STAGES).alias("verdict")
    )


@register(
    "l5j_curation_pipeline",
    oracle=_l5j_oracle(),
    tags=("L5", "L1", "L2", "L4", "A1", "W2", "J8"),
)
def l5j_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone end-to-end curation run as ONE query: the ordered
    Dolma/RedPajama stack — URL canonical dedup (l2j's key), exact
    dedup (l5g's md5 keeper), heuristic gates (length + stopword),
    fastText-style classifier gate (l5i), SimHash near-dup collapse
    (l2b/lm5's 16-bit signature, min-doc survivor), 8-shingle
    benchmark decontamination (l4i), semantic decontamination (l4t) —
    emitting the per-stage FUNNEL: docs in/removed/out, surviving
    token mass, and the stage removal fraction. Every rule is the
    one kernel its standalone query and l5g apply (gate_flags,
    ngram_hits, eval_max_cos, first_fail and their DuckDB twins), so
    each stage provably equals its deep-dive twin; l5g/l5h remain the
    per-document and per-gate views, lm9 the downstream mixer, of
    the same semantics.

    Plan shape: the per-doc work lives in l5j_doc_verdicts (see its
    docstring for the bounded-scan argument); the funnel itself is
    ONE grouped aggregate to <= 9 first-fail rows, unpivoted against
    a literal stage dimension with unpartitioned windows OVER THOSE
    9 ROWS ONLY (w8 discipline) — it never re-scans the corpus per
    stage, which is the property that matters at scale."""
    return verdict_funnel(spark, l5j_doc_verdicts(spark, sf_dir), _L5J_STAGES)


def verdict_funnel(
    spark: SparkSession, v: DataFrame, stages: tuple[str, ...]
) -> DataFrame:
    """Spark twin of :func:`funnel_tail_sql`: reduce a per-document
    verdict relation ``(source, n_tokens, verdict)`` to the per-stage
    funnel. ONE grouped aggregate to <= len(stages)+1 first-fail rows,
    then a literal stage dimension and unpartitioned windows over
    those few rows only (the w8 discipline) — shared by l5j and
    lm10's incremental batch so the accounting cannot drift."""
    from pyspark.sql.window import Window

    per_v = v.groupBy("verdict").agg(
        F.count(F.lit(1)).cast("bigint").alias("rm"),
        F.sum("n_tokens").cast("bigint").alias("rmt"),
    )
    # the stage dimension as ONE parsed array literal (a py4j round trip
    # per Column node otherwise)
    rows = ", ".join(
        f"struct({i + 1} AS ord, '{s}' AS stage)"
        for i, s in enumerate(stages + ("keep",))
    )
    dim = spark.range(1).select(F.expr(f"explode(array({rows}))").alias("s")).select(
        F.col("s.ord").alias("ord"), F.col("s.stage").alias("stage")
    )
    j = dim.join(
        F.broadcast(per_v), dim["stage"] == per_v["verdict"], "left"
    ).select(
        "ord",
        "stage",
        F.coalesce("rm", F.lit(0)).alias("rm"),
        F.coalesce("rmt", F.lit(0)).alias("rmt"),
    )
    wall = Window.partitionBy()
    cb_w = Window.orderBy("ord").rowsBetween(Window.unboundedPreceding, -1)
    ct_w = Window.orderBy("ord").rowsBetween(Window.unboundedPreceding, 0)
    fun = j.select(
        "ord",
        "stage",
        "rm",
        "rmt",
        F.sum("rm").over(wall).alias("n_total"),
        F.sum("rmt").over(wall).alias("tok_total"),
        F.coalesce(F.sum("rm").over(cb_w), F.lit(0)).alias("cb"),
        F.sum("rmt").over(ct_w).alias("ct"),
    )
    return fun.filter(F.col("stage") != "keep").select(
        F.col("ord").cast("bigint").alias("stage_ord"),
        "stage",
        (F.col("n_total") - F.col("cb")).cast("bigint").alias("docs_in"),
        F.col("rm").cast("bigint").alias("docs_removed"),
        (F.col("n_total") - F.col("cb") - F.col("rm"))
        .cast("bigint")
        .alias("docs_out"),
        (F.col("tok_total") - F.col("ct")).cast("bigint").alias("tokens_out"),
        F.round(
            F.col("rm").cast("double") / (F.col("n_total") - F.col("cb")), 6
        ).alias("removed_frac"),
    )
