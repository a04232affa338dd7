"""Deduplication operators (SURVEY.md §2.11 L1/L2): exact, n-gram
Jaccard, SimHash, and MinHash-LSH.

Scale design (the L7 rule): nothing here materializes pairs across the
whole corpus. Exact dedup is a hash group-by; Jaccard joins only pairs
sharing a token (inverted-index join, not cross join); SimHash reduces
each doc to 64 bits groupable by band; MinHash-LSH (spark.ml) buckets
by band hashes so candidate generation is equi-join shaped. At 100 TB
the pairwise step only ever sees same-bucket candidates.

Every operator reads the documents schema's ``doc_id`` and ``text``
columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from big_data_programming_spark.operators.text import tokenize


def normalize_text(text: Column) -> Column:
    """Canonical text form for exact dedup: lowercase + collapsed
    whitespace + trim."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def exact_dedup_keys(docs: DataFrame) -> DataFrame:
    """One row per distinct normalized text: md5 key, surviving doc_id
    (deterministically the smallest), duplicate count."""
    return (
        docs.select(
            F.md5(normalize_text(F.col("text")).cast("binary")).alias("content_hash"),
            "doc_id",
        )
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


#: Default hot-token document-frequency cap for :func:`jaccard_pairs`.
#: :func:`tokens_sql` applies the same cap by default, so the Spark
#: result and its DuckDB twin drop identical tokens at any scale — the
#: cap can trigger without a silent hash divergence.
MAX_TOKEN_DF = 100_000


def spread_fanout_input(docs: DataFrame) -> DataFrame:
    """Hash-repartition the doc rows on ``doc_id`` to ``defaultParallelism``
    before a quadratic fan-out ("one huge unsplittable file …
    repartition immediately after the read").

    The exact pairwise ops below explode each doc into shingles and
    fan every shingle out to its join matches; without an exchange all
    of that runs in the scan task, so a single-file input (the sf0.1
    fixture is ONE 594 KB parquet = ONE task) serializes the fan-out
    on one core: measured l2g at sf0.1 = 236 s single-task vs 8 s
    spread over 32 cores. The partition count is explicit because
    without it AQE may coalesce the exchange back into one task. The
    trade at scale: one linear exchange of the pre-explode doc rows."""
    target = docs.sparkSession.sparkContext.defaultParallelism
    return docs.repartition(target, F.col("doc_id"))


#: Pair score -> (Spark expression over n_shared/n_a/n_b, DuckDB
#: spelling over n_shared/sa.n/sb.n): the same integer operands and the
#: same one IEEE division in both engines.
_SCORES = {
    "jaccard": (
        lambda: F.col("n_shared").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
        "CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared)",
    ),
    "containment": (
        lambda: F.col("n_shared").cast("double") / F.least("n_a", "n_b"),
        "CAST(n_shared AS DOUBLE) / LEAST(sa.n, sb.n)",
    ),
}


def _scored(pairs: DataFrame, threshold: float, score: str) -> DataFrame:
    return (
        pairs.withColumn(score, _SCORES[score][0]())
        .filter(F.col(score) >= threshold)
        .select("doc_a", "doc_b", "n_shared", score)
    )


def overlap_pairs(elems: DataFrame, threshold: float, score: str = "jaccard") -> DataFrame:
    """Exact set-overlap pairs over a ``(doc, e)`` relation of each
    doc's DISTINCT elements — the inverted-index kernel behind
    :func:`jaccard_pairs` and the ``ngram_*_pairs``: self-join on
    ``e`` (an equi-join shuffled on the element, never a cross join),
    count shared elements per ``doc_a < doc_b`` pair, attach both set
    sizes and score — ``"jaccard"`` |A∩B| / |A∪B| or ``"containment"``
    |A∩B| / min(|A|,|B|). Only pairs sharing an element exist, so even
    threshold 0 emits no disjoint pair. Output ``(doc_a, doc_b,
    n_shared, <score>)``; DuckDB twin :func:`overlap_oracle_sql`."""
    sizes = elems.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    a, b = elems.alias("a"), elems.alias("b")
    inter = (
        a.join(b, (F.col("a.e") == F.col("b.e")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n").alias("n_b"))
    return _scored(inter.join(sa, "doc_a").join(sb, "doc_b"), threshold, score)


def verify_pairs(cand: DataFrame, sets: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard verify of candidate ``(doc_a, doc_b)`` pairs
    against ``(doc, elems)`` rows of DISTINCT-element arrays, the verify
    step of both MinHash pipelines; same output as :func:`overlap_pairs`.
    Each side's array is attached and intersected in-row
    (``size(array_intersect(..))``, whole-stage codegen; no explode
    before the join): exploding would push l2i's 11.65M
    sf0.1 candidates × ~40 tokens ≈ 470M rows through two joins
    (measured 29 s of its 61) for the same integer count."""
    def side(s: str) -> DataFrame:
        return sets.select(
            F.col("doc").alias(f"doc_{s}"),
            F.col("elems").alias(f"elems_{s}"),
            F.size("elems").alias(f"n_{s}"),
        )

    pairs = cand.join(side("a"), "doc_a").join(side("b"), "doc_b").withColumn(
        "n_shared", F.size(F.array_intersect("elems_a", "elems_b")).cast("long")
    )
    return _scored(pairs, threshold, "jaccard")


def overlap_oracle_sql(elems_sql: str, threshold: float, score: str = "jaccard") -> str:
    """DuckDB twin of :func:`overlap_pairs` over ``elems_sql``, a SELECT
    of ``(doc, e)`` rows (:func:`tokens_sql`, :func:`ngrams_sql`)."""
    expr = _SCORES[score][1]
    return f"""
WITH elems AS (
  {elems_sql}
), sizes AS (
  SELECT doc, COUNT(*) AS n FROM elems GROUP BY doc
), inter AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_shared
  FROM elems a JOIN elems b ON a.e = b.e AND a.doc < b.doc
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_shared, {expr} AS {score}
FROM inter
JOIN sizes sa ON sa.doc = doc_a
JOIN sizes sb ON sb.doc = doc_b
WHERE {expr} >= {threshold}
"""


def tokens_sql(shard: str | None = None, max_df: int | None = MAX_TOKEN_DF) -> str:
    """DuckDB twin of :func:`jaccard_pairs`'s ``(doc, e)`` tokens, over
    the rows matching ``shard`` if given; ``max_df=None`` drops the df
    cap (the uncapped sets of the MinHash verify step)."""
    sql = "SELECT doc_id AS doc, UNNEST(list_distinct(string_split(text, ' '))) AS e"
    sql += " FROM documents" + (f" WHERE {shard}" if shard else "")
    if max_df is not None:
        sql = f"SELECT doc, e FROM ({sql}) QUALIFY COUNT(*) OVER (PARTITION BY e) <= {max_df}"
    return sql


def ngrams_sql(n: int, shard: str | None = None) -> str:
    """DuckDB twin of :func:`_ngram_elems`, over the rows matching
    ``shard`` if given: same substrings, same md5 hex-prefix parse."""
    shard_and = f" AND {shard}" if shard else ""
    return f"""SELECT doc_id AS doc,
         CAST(CONCAT('0x', SUBSTRING(md5(g.gram), 1, 15)) AS BIGINT) AS e
  FROM documents,
       UNNEST(list_distinct(list_transform(
         generate_series(1, length(text) - {n - 1}),
         i -> substr(text, i, {n})))) AS g(gram)
  WHERE length(text) >= {n}{shard_and}"""


def jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    max_token_df: int | None = MAX_TOKEN_DF,
) -> DataFrame:
    """Exact token-set Jaccard similarity for all pairs sharing ≥1 token:
    each doc's distinct whitespace tokens through :func:`overlap_pairs`.
    The production path at scale is MinHash-LSH banding
    (:func:`minhash_banded_pairs`); this operator is its ground-truth
    twin for recall testing. DuckDB twin:
    ``overlap_oracle_sql(tokens_sql(), threshold)``.

    ``max_token_df`` bounds the quadratic blow-up a single hot token
    would cause (a token in k docs emits k² join rows): tokens whose
    document frequency exceeds the cap are dropped from the inverted
    index via a broadcast anti-join (hot tokens are by definition few).
    :func:`tokens_sql` applies the same MAX_TOKEN_DF cap by default, so
    the two engines drop identical tokens and stay hash-identical even
    when the cap triggers; pass a non-default cap only on non-oracle
    paths. Dropping a >100k-df token barely moves Jaccard for near-dup
    purposes: such tokens are stopwords shared by essentially every
    candidate pair."""
    toks = spread_fanout_input(docs).select(
        F.col("doc_id").alias("doc"),
        F.explode(F.array_distinct(tokenize(F.col("text")))).alias("e"),
    )
    if max_token_df is not None:  # None = caller vouches, skip the df pass
        hot = (
            toks.groupBy("e")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_token_df)
            .select("e")
        )
        toks = toks.join(F.broadcast(hot), "e", "left_anti")
    return overlap_pairs(toks, threshold, "jaccard")


def _token_sets(docs: DataFrame) -> DataFrame:
    """``(doc, elems)`` distinct-token arrays for :func:`verify_pairs`."""
    return docs.select(
        F.col("doc_id").alias("doc"),
        F.array_distinct(tokenize(F.col("text"))).alias("elems"),
    )


def _token_hash60(token: Column) -> Column:
    """Deterministic 60-bit integer hash of a token via md5 — portable
    to DuckDB (same md5, same hex-prefix parse; 15 hex digits so the
    value fits a signed 64-bit int in both engines)."""
    return F.conv(F.substring(F.md5(token.cast("binary")), 1, 15), 16, 10).cast("long")


#: Width of the SimHash signatures (l2b, l5c, l5j, lm5): 16 vote bits.
SIMHASH_BITS = 16


def simhash_sql(one: str, zero: str, sep: str) -> str:
    """Spark SQL aggregate text of the SimHash votes over the token
    hashes ``h``: bit b's +1/-1 vote sum over the doc's distinct tokens
    yields ``one`` (a template over the bit's value ``{v}`` = 1 << b)
    when positive and ``zero`` otherwise; the :data:`SIMHASH_BITS`
    results are joined by ``sep``. Rendered as text so the whole
    signature is one ``F.expr`` parse instead of one py4j round trip
    per Column node."""
    return sep.join(
        f"CASE WHEN sum(CASE WHEN shiftright(h, {b}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN {one.format(v=1 << b)} ELSE {zero} END"
        for b in range(SIMHASH_BITS)
    )


_SIMHASH_BITS_SQL = "concat(" + simhash_sql("'1'", "'0'", ", ") + ")"


def simhash_packed(docs: DataFrame, packed_sql: str, name: str) -> DataFrame:
    """``(doc_id, <name>)``: ``packed_sql`` (:func:`simhash_sql`) as ONE
    per-doc hash aggregate over the doc's distinct token hashes —
    explode(token) → groupBy(doc), one conditional integer sum per bit.
    The r11 rewrite replaced a second explode (×bits rows), a (doc,
    bit) aggregate and a second exchange plus an ObjectHashAggregate
    with this shape (measured at sf0.1: 2 Exchange → 1,
    ObjectHashAggregate → none); the votes are exact integer sums
    either way, so the signature is bit-identical. The packing sits
    inside the aggregate expression, where Catalyst's CollapseProject
    would move a separate packing projection anyway."""
    toks = docs.select(
        F.col("doc_id"),
        F.explode(F.array_distinct(tokenize(F.col("text")))).alias("token"),
    ).select("doc_id", _token_hash60(F.col("token")).alias("h"))
    return toks.groupBy("doc_id").agg(F.expr(packed_sql).alias(name))


def simhash(docs: DataFrame) -> DataFrame:
    """SimHash signature over token hashes: for each bit position, sum
    +1/-1 votes across the document's distinct tokens; the sign vector
    is the signature, emitted as a :data:`SIMHASH_BITS`-char bit string
    ``simhash_bits`` (near-duplicate docs differ in few positions)."""
    return simhash_packed(docs, _SIMHASH_BITS_SQL, "simhash_bits")


def simhash_oracle_sql(one: str, zero: str, pack: str, name: str) -> str:
    """DuckDB twin of :func:`simhash_packed`: ``(doc_id, <name>)`` from
    the same md5 token hashes and per-bit vote sums. Bit ``bit`` yields
    ``one`` (a SQL expression over ``bit``) when its vote sum is
    positive and ``zero`` otherwise; ``pack`` aggregates those per-bit
    values ``s`` into the doc's signature (the packing of
    :func:`simhash_sql`'s callers: bit string or BIGINT)."""
    return f"""
WITH toks AS (
  SELECT doc_id,
         CAST(CONCAT('0x', SUBSTRING(md5(t.token), 1, 15)) AS BIGINT) AS h
  FROM documents, UNNEST(list_distinct(string_split(text, ' '))) AS t(token)
), votes AS (
  SELECT doc_id, b.bit,
         CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END AS vote
  FROM toks, (SELECT UNNEST(generate_series(0, {SIMHASH_BITS - 1})) AS bit) b
), signs AS (
  SELECT doc_id, bit, CASE WHEN SUM(vote) > 0 THEN {one} ELSE {zero} END AS s
  FROM votes GROUP BY doc_id, bit
)
SELECT doc_id, {pack} AS {name}
FROM signs GROUP BY doc_id
"""


#: DuckDB twin of :func:`simhash` (the bit string ``simhash_bits``).
SIMHASH_ORACLE_SQL = simhash_oracle_sql(
    "'1'", "'0'", "STRING_AGG(s, '' ORDER BY bit)", "simhash_bits"
)


def minhash_lsh_candidates(
    docs: DataFrame,
    jaccard_threshold: float = 0.5,
    num_hashes: int = 32,
    margin: float = 0.1,
) -> DataFrame:
    """Near-duplicate *candidate* pairs via spark.ml MinHashLSH.

    tokens → HashingTF sparse vectors → MinHash signatures →
    approxSimilarityJoin. Candidate generation is a band-bucket
    equi-join (linear shuffle), never all-pairs; seeded, so
    deterministic for a fixed input.

    ``margin`` over-fetches: the join's distance filter runs on the
    *hashed-feature* Jaccard, which drifts a few percent from true
    token Jaccard for borderline pairs (HashingTF bucket collisions),
    so the distance cut is loosened by ``margin`` and the precise cut
    is left to the exact-verify stage (:func:`minhash_dedup_pairs`) —
    the standard over-fetch-then-verify shape of production dedup."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    toks = docs.select(F.col("doc_id"), tokenize(F.col("text")).alias("tokens")).filter(
        F.size(F.array_distinct("tokens")) > 0
    )
    tf = HashingTF(inputCol="tokens", outputCol="features", numFeatures=1 << 18, binary=True)
    feat = tf.transform(toks)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=num_hashes, seed=42)
    model = lsh.fit(feat)
    pairs = model.approxSimilarityJoin(
        feat, feat, 1.0 - jaccard_threshold + margin, distCol="dist"
    )
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            (1.0 - F.col("dist")).alias("est_jaccard"),
        )
    )


def minhash_dedup_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """LSH candidates exact-verified against true token Jaccard — the
    full production near-dedup pipeline (generate ∪ verify), whose
    output equals the ground-truth all-pairs computation while only
    ever scoring same-bucket candidates. 32 hash tables put the
    candidate-miss probability for a true ≥0.5 pair below 1e-9, so the
    result is oracle-checkable against the exact formulation."""
    cand = minhash_lsh_candidates(docs, jaccard_threshold=threshold)
    return verify_pairs(cand, _token_sets(docs), threshold)


#: Mersenne prime 2^31-1 for the universal-hash family below. Token
#: base hashes are 28-bit (7 hex digits of md5), multipliers < 2^31,
#: so a*h + b < 2^60 — no 64-bit overflow in either engine.
_MINHASH_PRIME = 2147483647

#: Geometry of the hand-rolled MinHash operators (l2i, l2n, lm8, lm8b,
#: lm10): 24 universal-hash slots per signature, banded 2 rows per
#: band into 12 bands. Recall for a true pair at similarity J is
#: 1-(1-J^2)^12: 97% at J=0.5, >99.9% at J=0.7 (l2n audits it).
MINHASH_HASHES = 24
MINHASH_ROWS = 2


def _minhash_constants() -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the k universal hash functions
    h_s(x) = (a_s * x + b_s) mod P, derived from md5 of the seed index
    so the SAME literals are embedded in the Spark plan and the DuckDB
    oracle — the whole LSH pipeline replays bit-for-bit cross-engine."""
    import hashlib

    out = []
    for s in range(MINHASH_HASHES):
        d = hashlib.md5(f"bdps-minhash-{s}".encode()).hexdigest()
        a = int(d[:7], 16) % (_MINHASH_PRIME - 1) + 1
        b = int(d[7:14], 16) % _MINHASH_PRIME
        out.append((a, b))
    return out


def _minhash_sig_sql(listlit: str, lmin: str, transform: str) -> str:
    """The :data:`MINHASH_HASHES`-slot signature over the base-hash
    array ``h``, rendered for either SQL dialect (the ``_pq_sql``
    pattern of queries/llm_similarity.py): ``listlit`` is the
    list-literal template ('array({items})' / '[{items}]'), ``lmin``
    and ``transform`` the list-min and list-map function names. Both
    engines get the same (a, b) literals and the same arithmetic."""
    return listlit.format(
        items=",\n           ".join(
            f"{lmin}({transform}(h, x -> ({a} * x + {b}) % {_MINHASH_PRIME}))"
            for (a, b) in _minhash_constants()
        )
    )


def _minhash_band_key_sql(elem: str, string: str, band: int | str) -> str:
    """Key of LSH band ``band``: its :data:`MINHASH_ROWS` signature
    slots cast to the dialect's ``string`` type and joined by '-'.
    ``band`` is a band number (Spark enumerates the bands) or the name
    of a band-number column (DuckDB joins a band series); ``elem`` is
    the dialect's element-access template over the 1-based slot
    ``{i}``."""
    slots = [
        band * MINHASH_ROWS + i + 1
        if isinstance(band, int)
        else f"{band} * {MINHASH_ROWS} + {i + 1}"
        for i in range(MINHASH_ROWS)
    ]
    cast = ", ".join(f"CAST({elem.format(i=s)} AS {string})" for s in slots)
    return f"concat_ws('-', {cast})"


#: Spark SQL text of the base hashes, of the signature and of the
#: exploded band rows, built once at import. Each is one ``F.expr``
#: parse per build; the Column API costs a py4j round trip per node,
#: ~80 for one slot's ``transform`` lambda alone. A base hash is the
#: first 7 hex digits (28 bits) of the token's md5.
_MINHASH_BASE_SQL = (
    "transform(ts, x -> CAST(conv(substring(md5(CAST(x AS BINARY)), 1, 7), 16, 10) AS BIGINT))"
)
_MINHASH_SIG_SQL = _minhash_sig_sql("array({items})", "array_min", "transform")
_MINHASH_BANDS_SQL = "explode(array({}))".format(
    ", ".join(
        f"struct({j} AS band, "
        f"{_minhash_band_key_sql('element_at(sig, {i})', 'STRING', j)} AS key)"
        for j in range(MINHASH_HASHES // MINHASH_ROWS)
    )
)


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """The MinHash SIGNATURE relation ``(doc, sig: array<long>)`` —
    computed IN-ROW: distinct tokens -> 28-bit md5 base hashes -> k
    universal-hash minima, one array-HOF chain per row. ``transform``
    is ``CodegenFallback`` in Spark 4.1, so the chain is interpreted
    inside the generated stage code, not compiled into it. Exposed as
    its own stage because the signature table IS the persistence
    artifact of an incremental dedup pipeline (lm8): k longs per doc,
    never the text. Twin of the ``sigs`` CTE in
    :func:`minhash_signatures_sql`."""
    toks_arr = F.array_distinct(tokenize(F.col("text")))
    base = docs.select(F.col("doc_id").alias("doc"), toks_arr.alias("ts")).filter(
        F.size("ts") > 0
    )
    hv = base.select("doc", F.expr(_MINHASH_BASE_SQL).alias("h"))
    return hv.select("doc", F.expr(_MINHASH_SIG_SQL).alias("sig"))


def minhash_bands(sig: DataFrame) -> DataFrame:
    """LSH banding of a signature relation: ``(doc, band, key)`` rows,
    one per band, key = the band's signature slots joined as a string.
    Exposed separately so the incremental screen
    (:func:`incremental_minhash_matches`) can band the history and the
    new batch independently. Twin of :func:`minhash_bands_sql`."""
    return sig.select("doc", F.expr(_MINHASH_BANDS_SQL).alias("bk")).select(
        "doc", "bk.band", "bk.key"
    )


def minhash_band_candidates(docs: DataFrame) -> DataFrame:
    """The CANDIDATE stage of :func:`minhash_banded_pairs`, exposed so
    the banding itself is auditable (l2n measures its recall against
    exact-Jaccard ground truth): distinct ``(doc_a, doc_b)`` pairs
    agreeing on all slots of >= 1 LSH band — before any exact
    verification. Twin of :func:`minhash_band_candidates_sql`."""
    return _band_candidates(spread_fanout_input(docs))


def _band_candidates(docs: DataFrame) -> DataFrame:
    """:func:`minhash_band_candidates` over an already-spread input."""
    bands = minhash_bands(minhash_signatures(docs))
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )


def minhash_banded_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Near-dup pairs via hand-rolled MinHash + LSH banding, pure SQL
    expressions end to end (no spark.ml) — the from-first-principles
    twin of :func:`minhash_dedup_pairs`.

    Per doc, IN-ROW (no explode, no shuffle): distinct tokens →
    28-bit md5 base hashes → k=MINHASH_HASHES universal-hash minima =
    the MinHash signature, one array HOF chain per row (O(tokens × k)
    multiply-mods as a pure map; see :func:`minhash_signatures` on
    why the chain is interpreted, not compiled). Docs agreeing on ALL
    r=MINHASH_ROWS slots of one of the k/r bands become candidates via
    a (band_idx, band_key) equi-join — the only shuffle moves
    (doc, band_key) rows, never token lists — and :func:`verify_pairs`
    scores only those candidates. Borderline misses (recall: see
    MINHASH_HASHES) are missed IDENTICALLY by the oracle, whose hash
    constants are shared literals (recall vs ground truth is
    l2n's audit). The doc rows are spread once and feed both stages."""
    docs = spread_fanout_input(docs)
    return verify_pairs(_band_candidates(docs), _token_sets(docs), threshold)


def incremental_minhash_matches(
    hist: DataFrame, new: DataFrame, cap: int | None
) -> DataFrame:
    """The incremental MinHash screen of lm8, lm8b and lm10: arrival
    signatures ``new`` against persisted history signatures ``hist``
    (both ``(doc, sig)``, :func:`minhash_signatures`). Both sides are
    banded; history (band, key) buckets holding more than ``cap`` docs
    are skipped (``None`` = no cap) by ONE key-sized grouped aggregate
    BEFORE the candidate join, so a boilerplate bucket cannot turn the
    cost into O(batch × hottest bucket); each distinct candidate pair
    then counts its equal signature slots with an in-row zip-compare
    of the two arrays (the text never participates). Output
    ``(new_doc, hist_doc, m)``, one row per candidate; the caller
    applies its acceptance on ``m``. DuckDB twin:
    :func:`incremental_minhash_matches_sql`."""
    hb = minhash_bands(hist).select(F.col("doc").alias("hist_doc"), "band", "key")
    nb = minhash_bands(new).select(F.col("doc").alias("new_doc"), "band", "key")
    if cap is not None:
        cool = (
            hb.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= cap)
            .select("band", "key")
        )
        nb = nb.join(cool, ["band", "key"])
    cand = nb.join(hb, ["band", "key"]).select("new_doc", "hist_doc").distinct()
    ns = new.select(F.col("doc").alias("new_doc"), F.col("sig").alias("sig_n"))
    hs = hist.select(F.col("doc").alias("hist_doc"), F.col("sig").alias("sig_h"))
    m = F.aggregate(
        F.zip_with(
            F.col("sig_n"),
            F.col("sig_h"),
            lambda a, b: F.when(a == b, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        cand.join(ns, "new_doc")
        .join(hs, "hist_doc")
        .select("new_doc", "hist_doc", m.alias("m"))
    )


def minhash_signatures_sql() -> str:
    """DuckDB twin of :func:`minhash_signatures` — the base/hv/sigs
    CTE fragment (``sigs`` ends the chain with columns (doc, sig)),
    exposed so the incremental oracles compose the identical
    signature arithmetic."""
    return f"""base AS (
  SELECT doc_id AS doc, list_distinct(string_split(text, ' ')) AS ts
  FROM documents
), hv AS (
  SELECT doc,
         list_transform(ts, t -> CAST(CONCAT('0x', SUBSTRING(md5(t), 1, 7)) AS BIGINT)) AS h
  FROM base WHERE len(ts) > 0
), sigs AS (
  SELECT doc,
         {_minhash_sig_sql("[{items}]", "list_min", "list_transform")} AS sig
  FROM hv
)"""


def minhash_bands_sql(rel: str) -> str:
    """DuckDB twin of :func:`minhash_bands`: a SELECT of ``(doc, band,
    key)`` rows over ``rel``, a relation with columns (doc, sig)."""
    key = _minhash_band_key_sql("sig[{i}]", "VARCHAR", "j")
    n_bands = MINHASH_HASHES // MINHASH_ROWS
    return f"""SELECT doc, g.j AS band, {key} AS key
  FROM {rel}, (SELECT UNNEST(generate_series(0, {n_bands - 1})) AS j) g"""


def minhash_band_candidates_sql() -> str:
    """DuckDB twin of :func:`minhash_band_candidates` — the candidate
    CTE of the banded oracle, exposed for l2n's recall audit."""
    return f"""
WITH {minhash_signatures_sql()}, bands AS (
  {minhash_bands_sql("sigs")}
)
SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.key = b.key AND a.doc < b.doc
"""


def incremental_minhash_matches_sql(cap: int | None) -> str:
    """DuckDB twin of :func:`incremental_minhash_matches`: CTEs over
    the caller's ``hist`` and ``new`` relations (doc, sig), ending in
    ``scored(new_doc, hist_doc, m)``. The caller writes ``WITH`` and
    defines ``hist`` and ``new`` first."""
    sz, sz_join = "", ""
    if cap is not None:
        sz = f"""sz AS (
  SELECT band, key FROM hb GROUP BY 1, 2 HAVING COUNT(*) <= {cap}
), """
        sz_join = "\n  JOIN sz ON nb.band = sz.band AND nb.key = sz.key"
    return f"""hb AS (
  {minhash_bands_sql("hist")}
), nb AS (
  {minhash_bands_sql("new")}
), {sz}cand AS (
  SELECT DISTINCT nb.doc AS new_doc, hb.doc AS hist_doc
  FROM nb{sz_join}
  JOIN hb ON nb.band = hb.band AND nb.key = hb.key
), scored AS (
  SELECT c.new_doc, c.hist_doc,
         list_sum(list_transform(generate_series(1, {MINHASH_HASHES}),
           i -> CASE WHEN ns.sig[i] = hs.sig[i] THEN 1 ELSE 0 END)) AS m
  FROM cand c
  JOIN new ns ON ns.doc = c.new_doc
  JOIN hist hs ON hs.doc = c.hist_doc
)"""


def minhash_banded_oracle_sql(threshold: float = 0.5) -> str:
    """DuckDB identical-arithmetic twin of :func:`minhash_banded_pairs`
    — same md5 base hashes, same (a, b) literals, same banding, so the
    output (including any banding misses) matches value-for-value. The
    verify half is the uncapped exact token overlap restricted to the
    candidates: for ``threshold > 0`` a verified candidate shares a
    token, so it is exactly an overlap pair that is also a candidate."""
    exact = overlap_oracle_sql(tokens_sql(max_df=None), threshold)
    return f"""
SELECT p.doc_a, p.doc_b, p.n_shared, p.jaccard
FROM ({exact}) p
JOIN ({minhash_band_candidates_sql()}) c ON c.doc_a = p.doc_a AND c.doc_b = p.doc_b
"""


def char_ngrams(text: Column, n: int = 5) -> Column:
    """Distinct character n-gram shingles of a string column, as an
    array. Pure in-row array construction — whole-stage codegen, no
    Python. Callers must pre-filter ``length(text) >= n`` (Spark's
    ``sequence(1, 0)`` would count DOWN, not return empty)."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length(text) - (n - 1)),
            lambda i: F.substring(text, i, F.lit(n)),
        )
    )


def _ngram_elems(docs: DataFrame, n: int) -> DataFrame:
    """``(doc, e)``: the distinct char-``n``-grams of every doc at least
    ``n`` chars long, md5-hashed to 60-bit ints BEFORE the shuffle, so
    the inverted-index exchange moves 8-byte keys instead of n-char
    strings. DuckDB twin: :func:`ngrams_sql`."""
    grams = spread_fanout_input(docs).filter(F.length(F.col("text")) >= n).select(
        F.col("doc_id").alias("doc"),
        F.explode(char_ngrams(F.col("text"), n)).alias("gram"),
    )
    return grams.select("doc", _token_hash60(F.col("gram")).alias("e"))


def ngram_jaccard_pairs(docs: DataFrame, threshold: float, n: int = 5) -> DataFrame:
    """Exact character-n-gram Jaccard near-duplicate pairs.

    Shingling on character n-grams (vs whitespace tokens in
    :func:`jaccard_pairs`) is order-sensitive: shared vocabulary in a
    different arrangement scores near zero, while true edits/rewrites
    of the same passage keep most of their shingles — the standard
    near-dup signal for web-scale corpora. The hashed shingles
    (:func:`_ngram_elems`) go through :func:`overlap_pairs`; the hash
    is portable, so ``overlap_oracle_sql(ngrams_sql(n), threshold)``
    replays it bit-for-bit."""
    return overlap_pairs(_ngram_elems(docs, n), threshold, "jaccard")


def ngram_containment_pairs(docs: DataFrame, threshold: float, n: int = 5) -> DataFrame:
    """Character-n-gram CONTAINMENT near-dup pairs: |A∩B| / min(|A|,|B|).

    The subset-detection complement of :func:`ngram_jaccard_pairs`:
    when a short document is embedded inside a much longer one (quote
    farms, boilerplate wrappers, concatenated crawls), Jaccard
    collapses toward |A|/|B| and misses the pair, while containment
    stays ~1. Same hashed shingles, same :func:`overlap_pairs` kernel
    with ``score="containment"``: only the final scoring denominator
    differs (min() instead of union size). DuckDB twin:
    ``overlap_oracle_sql(ngrams_sql(n), threshold, "containment")``."""
    return overlap_pairs(_ngram_elems(docs, n), threshold, "containment")


#: Winnowing geometry (Schleimer, Wilkerson & Aiken 2003): 8-token
#: grams, windows of 4 gram hashes. Guarantee: any cross-doc shared run
#: of >= WINNOW_W + WINNOW_K - 1 = 11 tokens shares a fingerprint
#: (winnowing detects all matches of length >= w+k-1), independent of
#: alignment.
WINNOW_K = 8
WINNOW_W = 4


def _winnow(docs: DataFrame, pick) -> tuple[DataFrame, Column]:
    """The winnowing selection shared by :func:`winnowed_span_stats`
    and :func:`winnowed_span_extents`: ``(doc_id, n_toks, grams)`` rows
    (the md5 of every WINNOW_K-token gram, in row) plus the array of
    ``pick(window, j)`` over every window of WINNOW_W consecutive gram
    hashes, ``j`` being the window's 1-based start. The caller must
    explode that array in the same ``select`` that builds it: projected
    as a column first, it lets Catalyst infer a ``size(..) > 0``
    Filter that recomputes every gram's md5. Twin of
    :func:`_winnow_sql`."""
    n = F.size("toks")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - (WINNOW_K - 1), F.lit(1))),
        lambda i: F.md5(
            F.concat_ws(" ", F.slice(F.col("toks"), i, WINNOW_K)).cast("binary")
        ),
    )
    t = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    ).select("doc_id", n.alias("n_toks"), grams.alias("grams"))
    m = F.size("grams")
    picks = F.transform(
        F.sequence(F.lit(1), F.greatest(m - (WINNOW_W - 1), F.lit(1))),
        lambda j: pick(F.slice(F.col("grams"), j, WINNOW_W), j),
    )
    return t, picks


def winnowed_span_stats(docs: DataFrame) -> DataFrame:
    """Per-document cross-corpus duplicated-span statistics via
    winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003, the
    MOSS algorithm), the distributed stand-in for Lee et al. 2022's
    suffix-array ExactSubstr dedup; l2k is the catalog wrapper.

    Construction (all in-row, per document, :func:`_winnow`): md5
    every k-token gram, then in each sliding window of w consecutive
    gram hashes keep the minimum — the winnowed fingerprint set.
    Selection is CONTENT-DEFINED: a gram's hash decides whether it is
    kept, so two documents sharing a token run select the same
    fingerprints from it regardless of where the run sits in each
    document (a fixed stride grid does not have this property — runs
    at different alignments mod stride would hash disjoint window sets
    and be missed). Winnowing theorem: any shared run of >= w+k-1
    tokens shares at least one fingerprint, so both documents are
    flagged — a worst-case guarantee, not an expectation. A
    fingerprint is "duplicated" when it occurs in >= 2 DISTINCT
    documents, so a document's internal repetition (l4h's signal) does
    not count as corpus duplication.

    Output: ``(doc_id, n_fingerprints, n_dup_fingerprints, dup_frac)``.

    Scale shape: fingerprinting is a pure map (array HOFs, ~2/(w+1)
    of gram positions survive); the dup-set aggregate and the join
    back are skew-free md5-keyed equi-shuffles with map-side combine;
    the per-doc rollup is one hash aggregate. No all-pairs, no suffix
    array — linear in corpus tokens, which is what runs at 100 TB.
    """
    t, mins = _winnow(docs, lambda win, j: F.array_min(win))
    fps = t.select("doc_id", F.explode(F.array_distinct(mins)).alias("h"))
    dup = (
        fps.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h", F.lit(1).alias("is_dup"))
    )
    return (
        fps.join(dup, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fingerprints"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).alias("n_dup_fingerprints"),
        )
        .select(
            "doc_id",
            "n_fingerprints",
            "n_dup_fingerprints",
            (
                F.col("n_dup_fingerprints").cast("double") / F.col("n_fingerprints")
            ).alias("dup_frac"),
        )
    )


def winnowed_span_extents(docs: DataFrame) -> DataFrame:
    """Duplicated-span EXTENTS — the actual removal artifact of Lee et
    al. 2022's ExactSubstr dedup: per document, the merged
    ``[span_start, span_end]`` token ranges (1-based, inclusive)
    covered by cross-corpus duplicated runs, ready for a cut-and-
    reassemble pass (l5f's chunk-strip machinery consumes exactly this
    shape). l2k reports per-doc *fractions*; this emits the offsets.

    Construction: winnowing as in :func:`winnowed_span_stats`, but
    each window keeps the POSITION of its minimal gram (first-index
    tie-break — ``array_position``/``list_position`` agree on first
    occurrence), so every selected fingerprint carries the token
    offset where its k-gram starts. A fingerprint duplicated across
    >= 2 distinct documents marks the k-token extent at each of its
    selected positions; per document, marked extents sorted by start
    merge when the next start is within k of the previous (equal
    extent lengths make the lag test exact — no running-max needed),
    and each merged group becomes one output span, clamped to the
    document's token count.

    Coverage contract (documented approximation vs the suffix-array
    original): inside any shared run of >= w+k-1 tokens, winnowing
    selects a fingerprint at least every w positions, and w < k
    chains those marks into ONE merged span — so every such run is
    reported as a single span covering it to within < w+k tokens of
    slack at the edges; runs shorter than w+k-1 may be missed (the
    same threshold l2k inherits from the winnowing theorem).

    Scale shape: selection is in-row (array HOFs); the dup aggregate
    and the mark join are md5-keyed skew-free shuffles; the merge
    window partitions by doc_id over MARKED positions only (bounded
    by the duplication volume, not corpus tokens). Linear, no suffix
    array, no all-pairs.

    Materialization (the semdedup/l5e4 discipline, r6 advisor
    finding): the selected-fingerprint relation feeds TWO consumers —
    the duplicated-fingerprint aggregate and the semi-join mark probe
    — so an unmaterialized run would tokenize and winnow the corpus
    twice. It is persisted (spill-safe MEMORY_AND_DISK) at exactly the
    point a production ExactSubstr pipeline writes its fingerprint
    table out between the select and dedup stages. Same lifetime note
    as semdedup: no in-function release point (the return is lazy);
    callers that loop can release via session.release_caches(spark)."""
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    k = WINNOW_K
    t, min_pos = _winnow(
        docs,
        lambda win, j: j.cast("bigint") - 1 + F.array_position(win, F.array_min(win)),
    )
    sel = (
        t.select(
            "doc_id",
            "n_toks",
            "grams",
            F.explode(F.array_distinct(min_pos)).alias("pos"),
        )
        .select(
            "doc_id",
            "n_toks",
            "pos",
            F.element_at("grams", F.col("pos").cast("int")).alias("h"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dup = (
        sel.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    marked = sel.join(dup, "h", "semi").select("doc_id", "n_toks", "pos")
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(
        F.lag("pos").over(wdoc).isNull()
        | (F.col("pos") > F.lag("pos").over(wdoc) + k),
        1,
    ).otherwise(0)
    grp = marked.select("doc_id", "n_toks", "pos", brk.alias("brk")).select(
        "doc_id", "n_toks", "pos", F.sum("brk").over(wdoc).alias("grp")
    )
    span_end = F.least(F.max("pos") + (k - 1), F.max("n_toks"))
    return grp.groupBy("doc_id", "grp").agg(
        F.min("pos").alias("span_start"),
        span_end.alias("span_end"),
        (span_end - F.min("pos") + 1).alias("span_tokens"),
    ).select("doc_id", "span_start", "span_end", "span_tokens")


def _winnow_sql() -> str:
    """DuckDB twin of :func:`_winnow`: the t/g/sel CTE fragment ending
    in ``sel(doc_id, n_toks, pos, h)``, one row per distinct selected
    position with its gram hash (first-index argmin of each window)."""
    k, w = WINNOW_K, WINNOW_W
    return f"""t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), g AS (
  SELECT doc_id, LEN(toks) AS n_toks,
         list_transform(generate_series(1, GREATEST(LEN(toks) - {k - 1}, 1)),
                        i -> md5(array_to_string(list_slice(toks, i, i + {k - 1}), ' '))) AS grams
  FROM t
), sel AS (
  SELECT DISTINCT doc_id, n_toks, u.pos, list_extract(grams, u.pos) AS h
  FROM (SELECT doc_id, n_toks, grams,
               list_transform(generate_series(1, GREATEST(LEN(grams) - {w - 1}, 1)),
                              j -> j - 1 + list_position(list_slice(grams, j, j + {w - 1}),
                                                         list_min(list_slice(grams, j, j + {w - 1})))) AS mins
        FROM g),
       UNNEST(mins) AS u(pos)
)"""


def winnowed_extents_oracle_sql() -> str:
    """DuckDB twin of :func:`winnowed_span_extents` — identical gram
    hashing, identical first-index argmin selection, identical merge
    rule and clamping."""
    k = WINNOW_K
    return f"""
WITH {_winnow_sql()}, dup AS (
  SELECT h FROM sel GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
), marked AS (
  SELECT doc_id, n_toks, pos FROM sel WHERE h IN (SELECT h FROM dup)
), b AS (
  SELECT doc_id, n_toks, pos,
         CASE WHEN LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                OR pos > LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) + {k}
              THEN 1 ELSE 0 END AS brk
  FROM marked
), grps AS (
  SELECT doc_id, n_toks, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM b
)
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(LEAST(MAX(pos) + {k - 1}, MAX(n_toks)) AS BIGINT) AS span_end,
       CAST(LEAST(MAX(pos) + {k - 1}, MAX(n_toks)) - MIN(pos) + 1 AS BIGINT) AS span_tokens
FROM grps
GROUP BY doc_id, grp
"""


def winnowed_span_oracle_sql() -> str:
    """DuckDB twin of :func:`winnowed_span_stats` — identical gram
    hashing, identical window-min selection (the hashes at the
    selected argmin positions ARE the window minima), identical dup
    rule."""
    return f"""
WITH {_winnow_sql()}, fp AS (
  SELECT DISTINCT doc_id, h FROM sel
), dup AS (
  SELECT h FROM fp GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
)
SELECT fp.doc_id,
       COUNT(*) AS n_fingerprints,
       COUNT(*) FILTER (WHERE dup.h IS NOT NULL) AS n_dup_fingerprints,
       CAST(COUNT(*) FILTER (WHERE dup.h IS NOT NULL) AS DOUBLE)
         / COUNT(*) AS dup_frac
FROM fp LEFT JOIN dup ON fp.h = dup.h
GROUP BY 1
"""
