"""Text-analysis operators for LLM data pipelines (SURVEY.md §2.11 L4/L5).

All built-in expressions (split/regexp/HOFs) — whole-stage codegen,
no Python crossing, embarrassingly parallel: these run at 100 TB as a
pure map over document partitions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Tiny deterministic stopword list shared with the oracle SQL.
STOPWORDS = ("the", "a", "of", "and", "to")


def stopword_count(toks: Column) -> Column:
    """How many tokens of a token array are in STOPWORDS. Twin of
    :func:`stopword_count_sql`."""
    return F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))


def stopword_count_sql(toks_expr: str) -> str:
    """DuckDB twin of :func:`stopword_count`."""
    stop = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"LEN(list_filter({toks_expr}, x -> x IN ({stop})))"


def gate_flags(toks: str, wv: str | None = None) -> dict[str, Column]:
    """The l5 in-row gates over the token-array column named ``toks``,
    each as a flag that is true when the document FAILS it:
    ``bad_length`` (outside 20-2000 tokens), ``low_stopword`` (fewer
    than 2 stopwords) and, given the model column named ``wv``,
    ``low_quality`` (l5i logit <= 0). ONE definition of the thresholds
    for every query that applies them (l4u, st29, l5g, l5j, lm10);
    twin of :func:`gate_flags_sql`."""
    t = F.col(toks)
    flags = {
        "bad_length": ~F.size(t).between(20, 2000),
        "low_stopword": stopword_count(t) < 2,
    }
    if wv is not None:
        flags["low_quality"] = quality_logit(toks, wv) <= 0
    return flags


def gate_flags_sql(toks_expr: str, w_expr: str | None = None) -> dict[str, str]:
    """DuckDB twin of :func:`gate_flags`."""
    flags = {
        "bad_length": f"LEN({toks_expr}) NOT BETWEEN 20 AND 2000",
        "low_stopword": f"{stopword_count_sql(toks_expr)} < 2",
    }
    if w_expr is not None:
        flags["low_quality"] = f"{quality_logit_sql(toks_expr, w_expr)} <= 0"
    return flags


def basic_gate(toks: str) -> Column:
    """The l5 basic quality gate (l4u, st29) over the token-array
    column named ``toks``: a document passes when neither the length
    nor the stopword flag of :func:`gate_flags` fires. Twin of
    :func:`basic_gate_sql`."""
    f = gate_flags(toks)
    return ~(f["bad_length"] | f["low_stopword"])


def basic_gate_sql(toks_expr: str) -> str:
    """DuckDB twin of :func:`basic_gate`."""
    f = gate_flags_sql(toks_expr)
    return f"NOT ({f['bad_length']} OR {f['low_stopword']})"


#: BPE-ish tokenizer regex: letter runs, digit runs, or single
#: non-alphanumeric marks — the shape (not the vocab) of a byte-pair
#: pre-tokenizer. POSIX-simple so Java and RE2 agree.
BPE_ISH_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9 ]"


def tokenize(text: Column) -> Column:
    """Whitespace tokenization (documents.text is space-separated)."""
    return F.split(text, " ")


def bpe_ish_tokens(text: Column) -> Column:
    """Regex pre-tokenization into letter/digit/punct runs."""
    return F.regexp_extract_all(F.lower(text), F.lit(BPE_ISH_PATTERN), 0)


def quality_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality signals: token count, mean token length,
    stopword ratio, and a composite score in [0, 1]."""
    toks = tokenize(F.col(text_col))
    n_tokens = F.size(toks)
    total_len = F.aggregate(F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, b: a + b)
    n_stop = stopword_count(toks)
    out = docs.select(
        "doc_id",
        "lang",
        "source",
        n_tokens.alias("n_tokens"),
        (total_len.cast("double") / n_tokens).alias("mean_token_len"),
        (n_stop.cast("double") / n_tokens).alias("stopword_ratio"),
    )
    score = (
        F.when(F.col("n_tokens").between(10, 2000), F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when(F.col("mean_token_len").between(3.0, 10.0), F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when(F.col("stopword_ratio").between(0.01, 0.5), F.lit(0.3)).otherwise(F.lit(0.0))
    )
    return out.withColumn("quality_score", score)


#: DuckDB twin expression fragments for :func:`quality_features`.
QUALITY_ORACLE_SQL = f"""
WITH feats AS (
  SELECT doc_id, lang, source,
         LEN(string_split(text, ' ')) AS n_tokens,
         CAST(list_reduce(list_transform(string_split(text, ' '), t -> LENGTH(t)),
                          (a, b) -> a + b) AS DOUBLE)
           / LEN(string_split(text, ' ')) AS mean_token_len,
         CAST({stopword_count_sql("string_split(text, ' ')")} AS DOUBLE)
           / LEN(string_split(text, ' ')) AS stopword_ratio
  FROM documents
)
SELECT *,
       (CASE WHEN n_tokens BETWEEN 10 AND 2000 THEN CAST(0.4 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
        + CASE WHEN mean_token_len BETWEEN 3.0 AND 10.0 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
        + CASE WHEN stopword_ratio BETWEEN 0.01 AND 0.5 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
         AS quality_score
FROM feats
"""
# NB: the CASTs above matter — DuckDB parses bare 0.4 as DECIMAL(2,1) and
# would sum exactly, while Spark sums doubles (0.4+0.3 = 0.7000…01); the
# two sides must drift identically.


# --- l5i fastText-style quality classifier (Joulin et al. 2016) ------
#
#: Hashed feature-space size. 256 buckets keeps the weight vector a
#: broadcast-tiny 1-row artifact at any corpus size (lm7's DSIR
#: discipline — feature hashing is WHY fastText-style classifiers run
#: at 100 TB: the model is constant-size regardless of vocabulary).
L5I_BUCKETS = 256
#: Intercept, calibrated empirically on the fixture corpus (DuckDB
#: prototype, sf0.01: keep-rate 253/500 with zero logit==0 boundary
#: rows — non-degenerate both ways). A trained model would learn this;
#: the md5-derived stand-in keeps the artifact deterministic.
L5I_BIAS = 0.03


def _l5i_weight(key: int | str) -> float:
    """Deterministic stand-in for a trained weight: first 8 hex chars
    of md5("l5i:<key>") mapped to [-1, 1), rounded 8dp so the literal
    parses to the identical double in Spark and DuckDB. A real
    deployment swaps this table for trained fastText weights; the
    query shape (1-row broadcast + in-row dot product) is unchanged."""
    import hashlib

    h = int(hashlib.md5(f"l5i:{key}".encode()).hexdigest()[:8], 16)
    return round(h / 2**31 - 1.0, 8)


#: The fixed weight vector (one scalar per hashed bucket — a 1-dim
#: quality head over hashed unigram+bigram counts).
L5I_WEIGHTS: tuple[float, ...] = tuple(_l5i_weight(i) for i in range(L5I_BUCKETS))


def _word_ngrams_spark_sql(toks: str, n: int) -> str:
    return (
        f"transform(slice({toks}, 1, greatest(size({toks}) - {n - 1}, 0)), "
        f"(x, i) -> array_join(slice({toks}, i + 1, {n}), ' '))"
    )


def word_ngrams(toks: str, n: int) -> Column:
    """The word n-grams of the token-array column named ``toks``, each
    its ``n`` adjacent tokens joined by one space, formed IN-ROW (no
    token explode, no self-join). A text shorter than ``n`` tokens has
    none. One parsed SQL string: built Column by Column it cost
    100-158 py4j round trips per use against ~24. Twin of
    :func:`word_ngrams_sql`."""
    return F.expr(_word_ngrams_spark_sql(toks, n))


def word_ngrams_sql(toks_expr: str, n: int) -> str:
    """DuckDB twin of :func:`word_ngrams`."""
    return (
        f"list_transform(generate_series(1, GREATEST(LEN({toks_expr}) - {n - 1}, 0)), "
        f"i -> array_to_string(list_slice({toks_expr}, i, i + {n - 1}), ' '))"
    )


def max_token_freq(toks: DataFrame) -> DataFrame:
    """``(doc_id, max_freq)``: the count of each document's most
    frequent token, from ``(doc_id, t)`` token-array rows (l4h, l5d).
    One aggregate over per-(doc, token) counts already shrunk by
    map-side combine. Twin of :data:`MAX_TOKEN_FREQ_SQL`."""
    return (
        toks.select("doc_id", F.explode(F.col("t")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_freq"))
    )


#: DuckDB twin of :func:`max_token_freq` over a ``toks(doc_id, t)`` CTE.
MAX_TOKEN_FREQ_SQL = """SELECT doc_id, MAX(c) AS max_freq
  FROM (SELECT doc_id, u.token, COUNT(*) AS c
        FROM toks, UNNEST(t) AS u(token)
        GROUP BY doc_id, u.token)
  GROUP BY doc_id"""


def _unigram_bigram_spark_sql(toks: str) -> str:
    return f"concat({toks}, {_word_ngrams_spark_sql(toks, 2)})"


def unigram_bigram_features(toks: str) -> Column:
    """fastText's feature set over the token-array column named
    ``toks``: the tokens plus their adjacent bigrams (l5i, l5k, lm7).
    Twin of :func:`unigram_bigram_features_sql`."""
    return F.expr(_unigram_bigram_spark_sql(toks))


def unigram_bigram_features_sql(toks_expr: str) -> str:
    """DuckDB twin of :func:`unigram_bigram_features`."""
    return f"list_concat({toks_expr}, {word_ngrams_sql(toks_expr, 2)})"


def quality_logit(
    toks: str, weights: str = "wv", bias: str | None = None
) -> Column:
    """l5i logit over the token-array column named ``toks``: mean
    hashed-feature weight + bias, rounded 6dp. Pure in-row pipeline —
    transform maps each feature to its bucket weight (md5 -> first 8
    hex -> % {B}), aggregate folds LEFT from a 0.0 seed in array order
    (the l4t fixed-order-fold canon, so Spark and DuckDB produce the
    identical IEEE double), then /n + bias + round.
    ``weights`` and ``bias`` are Spark SQL expressions: the weight
    array (a column name, or :data:`L5I_WEIGHTS_SPARK_SQL` inline) and
    the intercept, which defaults to the fixed L5I_BIAS calibration;
    l5k2 passes the TRAINED intercept column instead — the gate shape
    is the swap point, so the bias must be swappable along with the
    weights. One parsed SQL string: built Column by Column the lookup
    and fold cost ~180 py4j round trips per use."""
    fs = _unigram_bigram_spark_sql(toks)
    bucket = (
        "CAST(CAST(conv(substring(md5(CAST(f AS BINARY)), 1, 8), 16, 10) AS BIGINT)"
        f" % {L5I_BUCKETS} AS INT)"
    )
    b = f"{L5I_BIAS!r}D" if bias is None else bias
    return F.expr(
        f"round({b} + aggregate(transform({fs}, f -> element_at({weights}, {bucket} + 1)), "
        f"0.0D, (a, x) -> a + x) / size({fs}), 6)"
    )


def quality_logit_sql(
    toks_expr: str, w_expr: str, bias_expr: str | None = None
) -> str:
    """DuckDB twin of :func:`quality_logit`. ``w_expr`` must reference
    a DOUBLE[] column holding the weights in bucket order; ``bias_expr``
    defaults to the fixed L5I_BIAS literal (l5k2 passes the trained
    intercept column, mirroring :func:`quality_logit`)."""
    fs = unigram_bigram_features_sql(toks_expr)
    # Zero-init left fold (list_concat of a [0.0] accumulator seed)
    # mirrors Spark's F.aggregate(..., lit(0.0), ...): a genuinely
    # empty feature list folds to 0.0 then NULL after /LEN (DuckDB
    # x/0 -> NULL, same as Spark) instead of list_reduce's hard
    # "empty input list" error — the fragment is exported for
    # arbitrary toks_expr, so the empty case must stay engine-
    # symmetric even though string_split never produces it.
    b = str(L5I_BIAS) if bias_expr is None else bias_expr
    return (
        f"ROUND({b} + list_reduce(list_concat([0.0::DOUBLE], "
        f"list_transform({fs}, "
        f"f -> {w_expr}[(CAST(CONCAT('0x', SUBSTRING(md5(f), 1, 8)) AS BIGINT) "
        f"% {L5I_BUCKETS}) + 1])), (a, b) -> a + b) / LEN({fs}), 6)"
    )


def l5i_weights_sql() -> str:
    """The weight vector as a DuckDB DOUBLE[] literal (the oracle's
    stand-in for loading the model artifact)."""
    return "[" + ", ".join(repr(w) for w in L5I_WEIGHTS) + "]::DOUBLE[]"


#: Spark SQL spelling of the weight vector: DOUBLE literals (the ``D``
#: suffix; a bare decimal would parse as DECIMAL), so each parses to
#: the identical double.
L5I_WEIGHTS_SPARK_SQL = "array(" + ", ".join(f"{w!r}D" for w in L5I_WEIGHTS) + ")"


def quality_weights() -> Column:
    """The weight vector as an ``array<double>`` Column, parsed from ONE
    SQL literal: built element by element it cost one py4j round trip
    per node (~1,050 gateway commands per build against ~20)."""
    return F.expr(L5I_WEIGHTS_SPARK_SQL)


def with_quality_weights(df: DataFrame) -> DataFrame:
    """``df`` with the model vector attached as column ``wv``: one
    broadcast 1-row cross join, the l5i model-attach shape."""
    w = df.sparkSession.range(1).select(quality_weights().alias("wv"))
    return df.crossJoin(F.broadcast(w))


def shingle_hashes(toks: Column, k: int = 8) -> Column:
    """md5 hashes of every k-token shingle of a token array (at least
    one window even for shorter docs — the degenerate shingle is the
    whole doc). ONE definition on purpose: l4i's decontamination gate
    and l5g/l5j's n-gram probe must stay provably identical (r5 review
    finding), and shingle_fingerprint shares the same construction.
    Twin of :func:`shingle_hashes_sql`."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(1))),
        lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, k)).cast("binary")),
    )


def shingle_hashes_sql(toks_expr: str, k: int = 8) -> str:
    """DuckDB twin of :func:`shingle_hashes`."""
    return (
        f"list_transform(generate_series(1, GREATEST(LEN({toks_expr}) - {k - 1}, 1)), "
        f"i -> md5(array_to_string(list_slice({toks_expr}, i, i + {k - 1}), ' ')))"
    )


def shingle_fingerprint(text: Column, k: int = 8) -> Column:
    """Rolling-window document fingerprint: the minimum md5 over all
    k-token shingles (a 1-permutation MinHash). Identical prefixes of
    near-duplicate documents collide on this key, so grouping by it is
    a cheap near-dup blocking pass before pairwise comparison."""
    return F.array_min(shingle_hashes(tokenize(text), k))


#: URL canonicalization rules, applied in order (l2j, X93). Each is a
#: POSIX-simple (pattern, replacement) pair valid in both Java regex
#: and RE2/DuckDB, so the oracle replays the identical chain. Order
#: matters: scheme before port (the port rule anchors on ^host),
#: fragment before params (a fragment could hide a ?), params before
#: the trailing-separator sweep (dropping utm_* can leave a bare ?).
#: The www rule strips REPEATED prefixes ((www.)+ — www.www.host must
#: equal host or the chain is not idempotent), and the utm strip is
#: split three ways so a leading ?utm_* followed by a kept param
#: hands its '?' to the survivor instead of leaving a bare '&'.
URL_CANON_RULES: tuple[tuple[str, str], ...] = (
    (r"^https?://", ""),
    (r"^(www\.)+", ""),
    (r"#.*$", ""),
    (r"&utm_[^&]*", ""),  # non-leading tracking params (global)
    (r"\?utm_[^&]*&", "?"),  # leading tracking param with a kept successor
    (r"\?utm_[^&]*$", ""),  # tracking-only query string
    (r"^([^/:]+):(443|80)([/?]|$)", "$1$3"),
    (r"[/?]+$", ""),
)


def canonicalize_url(url: Column) -> Column:
    """Web-crawl URL canonical key: lowercase, strip scheme / www. /
    default port / #fragment / utm_* tracking params / trailing
    separators. Idempotent (property-tested), pure map — runs in-scan
    with whole-stage codegen at any scale."""
    out = F.lower(url)
    for pat, repl in URL_CANON_RULES:
        out = F.regexp_replace(out, pat, repl)
    return out


def canonicalize_url_sql(expr: str) -> str:
    """DuckDB spelling of :func:`canonicalize_url`, generated from the
    SAME URL_CANON_RULES chain — ONE definition so the l2j and l5j
    oracles cannot drift from the Spark canonicalizer (the
    basic_gate_sql lesson). Java's regexp_replace is global for EVERY
    rule, so every rule gets DuckDB's 'g' flag — replace-all is
    semantics-preserving for the anchored rules and a pattern-equality
    special case would silently fork the engines the moment
    URL_CANON_RULES gains another multi-match-capable pattern (r7
    advisor catch); $N replacements map to \\N."""
    out = f"LOWER({expr})"
    for pat, repl in URL_CANON_RULES:
        sql_repl = repl.replace("$1", r"\1").replace("$3", r"\3")
        out = f"regexp_replace({out}, '{pat}', '{sql_repl}', 'g')"
    return out


def synthetic_url(doc_id: Column, source: Column) -> Column:
    """The corpus has no real URLs, so l2j/l5j synthesize four
    deterministic surface variants of the same logical page per doc
    (scheme/www/port/fragment/tracking-param noise) — the f9
    convention. ONE definition shared by both queries."""
    variant = doc_id % 4
    page = (doc_id % 100).cast("string")
    base = F.concat(source, F.lit(".example.com/page/"), page)
    return (
        F.when(variant == 0, F.concat(F.lit("https://www."), base, F.lit("/")))
        .when(variant == 1, F.concat(F.lit("http://"), base,
                                     F.lit("?utm_source=feed&utm_medium=rss")))
        .when(variant == 2, F.concat(F.lit("https://"), source,
                                     F.lit(".example.com:443/page/"), page))
        .otherwise(F.concat(F.lit("https://"), base, F.lit("#section-2")))
    )


def synthetic_url_sql(doc_id: str = "doc_id", source: str = "source") -> str:
    """DuckDB twin of :func:`synthetic_url`."""
    page = f"CAST({doc_id} % 100 AS VARCHAR)"
    return f"""CASE {doc_id} % 4
           WHEN 0 THEN 'https://www.' || {source} || '.example.com/page/' || {page} || '/'
           WHEN 1 THEN 'http://' || {source} || '.example.com/page/' || {page} || '?utm_source=feed&utm_medium=rss'
           WHEN 2 THEN 'https://' || {source} || '.example.com:443/page/' || {page}
           ELSE 'https://' || {source} || '.example.com/page/' || {page} || '#section-2'
         END"""


#: End-of-word marker for BPE training (Sennrich et al. 2016 §3.2):
#: appended as its own symbol so merges can learn word-final units
#: and decoding stays reversible.
BPE_EOW = "</w>"


def bpe_symbolize(word_col: str) -> Column:
    """A word as its initial BPE symbol string: space-joined characters
    plus the end-of-word marker ('the' -> 't h e </w>'). Twin of
    :func:`bpe_symbolize_sql` — ONE construction per engine pair so
    the l4m3 training rounds start from provably identical state.
    Takes the column NAME (the char walk uses SQL substring, whose
    position argument must be an expression).

    The sequence upper bound is ``greatest(length, 1)``: Spark's
    ``sequence(1, 0)`` steps DOWN to ``[1, 0]`` (default step -1 when
    start > stop) while DuckDB's ``generate_series(1, 0)`` is empty,
    so an unguarded walk over an EMPTY word produced '  </w>' on Spark
    vs ' </w>' on DuckDB (r8 advice finding). With the bound, both
    engines emit ' </w>' for the empty word: Spark walks the single
    position of an empty string (substring -> ''), DuckDB walks none —
    same joined result either way."""
    return F.expr(
        f"concat(array_join(transform("
        f"sequence(1, greatest(length({word_col}), 1)), "
        f"i -> substring({word_col}, i, 1)), ' '), ' {BPE_EOW}')"
    )


def bpe_symbolize_sql(word_expr: str) -> str:
    """DuckDB twin of :func:`bpe_symbolize`. The GREATEST(len, 1)
    bound mirrors the Spark side for a different reason: DuckDB's
    ``array_to_string([])`` is NULL (probe-verified on 1.0.0), so an
    unguarded walk over the empty word emitted NULL || ' </w>' = NULL
    vs Spark's ' </w>'. Bounded, both engines walk exactly one (empty)
    substring and emit ' </w>'."""
    return (
        f"array_to_string(list_transform("
        f"generate_series(1, GREATEST(LEN({word_expr}), 1)), "
        f"i -> SUBSTRING({word_expr}, i, 1)), ' ') || ' {BPE_EOW}'"
    )


def bpe_apply_merge(sym: Column, a: Column, b: Column) -> Column:
    """Apply ONE merge rule (a, b) -> a||b to a symbol string,
    left-to-right non-overlapping (standard BPE apply): a left fold
    whose accumulator is the partially rebuilt string — after a merge
    the new tail symbol is a||b, which no longer equals ``a``, so
    overlapping occurrences are skipped exactly as the reference
    algorithm does ('a a a' + (a,a) -> 'aa a'). Twin of
    :func:`bpe_apply_merge_sql`; the two were probe-verified to agree
    on overlap, repeat, and single-symbol edge cases."""

    def parts(c: Column) -> Column:
        return F.split(c, " ")

    # NULL (not '') is the fold's "no symbols yet" sentinel: an EMPTY
    # string is a legal symbol (the empty word symbolizes to ' </w>' =
    # ['', '</w>']), and the old acc == '' test silently dropped it
    # ('</w>' on Spark vs ' </w>' on DuckDB, r9 probe). NULL can never
    # be a symbol, so the sentinel is unambiguous.
    return F.aggregate(
        F.split(sym, " "),
        F.lit(None).cast("string"),
        lambda acc, t: F.when(acc.isNull(), t).otherwise(
            F.when(
                (F.element_at(parts(acc), -1) == a) & (t == b),
                F.when(F.size(parts(acc)) == 1, F.concat(a, b)).otherwise(
                    F.concat(
                        F.array_join(
                            F.slice(parts(acc), 1, F.size(parts(acc)) - 1),
                            " ",
                        ),
                        F.lit(" "),
                        a,
                        b,
                    )
                ),
            ).otherwise(F.concat(acc, F.lit(" "), t))
        ),
    )


def bpe_apply_merge_sql(sym_expr: str, a_expr: str, b_expr: str) -> str:
    """DuckDB twin of :func:`bpe_apply_merge`. DuckDB's list_reduce
    seeds with the FIRST element, which is exactly Spark's
    empty-string-seeded fold after its ``acc == ''`` first-step
    branch — equivalent for the never-empty symbol lists BPE sees
    (every word carries at least one char plus the </w> marker)."""
    p = "string_split(acc, ' ')"
    return (
        f"list_reduce(string_split({sym_expr}, ' '), (acc, t) -> "
        f"CASE WHEN list_extract({p}, LEN({p})) = {a_expr} AND t = {b_expr} "
        f"THEN CASE WHEN LEN({p}) = 1 THEN {a_expr} || {b_expr} "
        f"ELSE array_to_string(list_slice({p}, 1, LEN({p}) - 1), ' ') "
        f"|| ' ' || {a_expr} || {b_expr} END "
        f"ELSE acc || ' ' || t END)"
    )
