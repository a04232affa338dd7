"""Corpus mixing & sampling for training-data pipelines (SURVEY.md
§2.11 north star; extensions X119-X124).

The ops a pretraining data team runs between curation and the trainer:
temperature-weighted source mixing, token-budget epoch planning,
deterministic per-source reservoirs, length-curriculum binning,
incremental near-dup screening of a new batch against history, and
deterministic negative-pair sampling for contrastive eval.

Cross-engine determinism notes (the driver hash-compares to DuckDB):
temperature uses α=0.5 so the weight numerator is ``SQRT`` (IEEE-exact
in both engines) instead of ``POW`` (libm, differs in the last ulp);
weight denominators go through the decimal window-sum canon
(functions/canonical.py); sampling keys are md5/LCG arithmetic, never
engine RNG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_programming_spark.functions.canonical import cos_sql, davg, dsum, dsum_sql
from big_data_programming_spark.operators.dedup import (
    MINHASH_HASHES,
    incremental_minhash_matches,
    incremental_minhash_matches_sql,
    minhash_signatures,
    minhash_signatures_sql,
    simhash_oracle_sql,
    simhash_packed,
    simhash_sql,
)
from big_data_programming_spark.operators.graph import cut
from big_data_programming_spark.operators.similarity import (
    as_double_array,
    cosine_similarity_col,
)
from big_data_programming_spark.operators.text import (
    gate_flags,
    gate_flags_sql,
    l5i_weights_sql,
    tokenize,
    unigram_bigram_features,
    unigram_bigram_features_sql,
    with_quality_weights,
)
from big_data_programming_spark.queries.llm_curation import (
    first_fail,
    first_fail_sql,
    funnel_tail_sql,
    l5j_doc_verdicts,
    l5j_verdict_ctes_sql,
    verdict_funnel,
)
from big_data_programming_spark.registry import register
from big_data_programming_spark.sources.loaders import load

@register(
    "lm1_temperature_mix",
    oracle=f"""
WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang)
SELECT lang, n_docs,
       SQRT(CAST(n_docs AS DOUBLE))
         / {dsum_sql('SQRT(CAST(n_docs AS DOUBLE))', over='')} AS mix_weight,
       CAST(n_docs AS DOUBLE)
         / CAST(SUM(n_docs) OVER () AS DOUBLE) AS natural_share,
       (SQRT(CAST(n_docs AS DOUBLE))
         / {dsum_sql('SQRT(CAST(n_docs AS DOUBLE))', over='')})
         / (CAST(n_docs AS DOUBLE) / CAST(SUM(n_docs) OVER () AS DOUBLE))
         AS boost
FROM c
""",
    tags=("L4", "A1", "W4"),
)
def lm1_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted corpus mixing (α = 0.5): upsample
    low-resource languages by sampling sources ∝ count^α instead of
    raw share — the standard multilingual-pretraining rebalance.
    ``boost`` > 1 marks the upsampled strata.

    α is 0.5 so the numerator is SQRT (IEEE-exact cross-engine);
    the Σcount^α denominator goes through the decimal window-sum
    canon. One scan + one 5-row global window: the window input is
    post-aggregation (|langs| rows), so the single-partition window
    is O(strata), not O(corpus), at any scale."""
    d = load(spark, sf_dir, "documents")
    c = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy()
    sqrt_c = F.sqrt(F.col("n_docs").cast("double"))
    total_sqrt = dsum(sqrt_c, over=w)
    total_docs = F.sum("n_docs").over(w).cast("double")
    mix_weight = sqrt_c / total_sqrt
    natural_share = F.col("n_docs").cast("double") / total_docs
    return c.select(
        "lang",
        "n_docs",
        mix_weight.alias("mix_weight"),
        natural_share.alias("natural_share"),
        (mix_weight / natural_share).alias("boost"),
    )


#: Tokens the epoch plan budgets for (a literal so the oracle replays).
_EPOCH_BUDGET = 1_000_000


@register(
    "lm2_mix_epoch_plan",
    oracle=f"""
WITH c AS (
  SELECT lang, COUNT(*) AS n_docs,
         CAST(SUM(LEN(string_split(text, ' '))) AS BIGINT) AS avail_tokens
  FROM documents GROUP BY lang
)
SELECT lang, avail_tokens,
       CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE))
         / {dsum_sql('SQRT(CAST(n_docs AS DOUBLE))', over='')}
         * {_EPOCH_BUDGET}) AS BIGINT) AS planned_tokens,
       CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE))
         / {dsum_sql('SQRT(CAST(n_docs AS DOUBLE))', over='')}
         * {_EPOCH_BUDGET}) AS BIGINT)
         / CAST(avail_tokens AS DOUBLE) AS repeat_factor,
       CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE))
         / {dsum_sql('SQRT(CAST(n_docs AS DOUBLE))', over='')}
         * {_EPOCH_BUDGET}) AS BIGINT)
         > avail_tokens AS needs_oversample
FROM c
""",
    tags=("L4", "A1", "W4", "F3"),
)
def lm2_mix_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch plan from the temperature mix: split a fixed token budget
    across languages by mix weight, and derive each stratum's repeat
    factor (planned / available tokens). ``needs_oversample`` marks
    strata that must repeat data (> 1 epoch locally) — the number a
    data-loading team reads before launching a run.

    Same determinism scheme as lm1; planned_tokens floors a
    bit-identical double, so the BIGINT is identical cross-engine."""
    d = load(spark, sf_dir, "documents")
    c = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " ")).cast("long")).alias("avail_tokens"),
    )
    w = Window.partitionBy()
    sqrt_c = F.sqrt(F.col("n_docs").cast("double"))
    mix_weight = sqrt_c / dsum(sqrt_c, over=w)
    planned = F.floor(mix_weight * _EPOCH_BUDGET).cast("long")
    return c.select(
        "lang",
        "avail_tokens",
        planned.alias("planned_tokens"),
        (planned / F.col("avail_tokens").cast("double")).alias("repeat_factor"),
        (planned > F.col("avail_tokens")).alias("needs_oversample"),
    )


@register(
    "lm3_reservoir_per_source",
    oracle="""
SELECT source, doc_id, rnk
FROM (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
  FROM documents
)
WHERE rnk <= 5
""",
    tags=("P5", "W1", "L4"),
)
def lm3_reservoir_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-source reservoir: rank docs inside each
    source by md5(doc_id) (a uniform, engine-portable permutation) and
    keep the first k=5 — the 'inspect k random docs per source'
    sample that stays STABLE across reruns and engines, unlike true
    reservoir sampling's RNG state.

    One shuffle on source + per-key heap (rank ≤ k is TopK-pushed by
    Spark's WindowGroupLimit at any key size); appends only change a
    source's sample where a new doc's hash ranks inside the top k."""
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("source", "doc_id", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 5)
    )


@register(
    "lm4_curriculum_bins",
    oracle=f"""
WITH b AS (
  SELECT lang, doc_id, n_chars,
         NTILE(4) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS bin
  FROM documents
)
SELECT lang, bin,
       COUNT(*) AS n_docs,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars,
       {dsum_sql('n_chars')}
         / COUNT(n_chars) AS avg_chars
FROM b
GROUP BY lang, bin
""",
    tags=("W1", "A1", "L4"),
)
def lm4_curriculum_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-curriculum binning: quartile each language by document
    length (NTILE over a deterministic total order) and profile the
    bins — the stage boundaries for short→long curriculum training.

    Per-lang windows keep the sort key-bounded (one shuffle on lang);
    at 100 TB one swaps NTILE for approx-quantile cutpoints computed
    once and joined broadcast — same output schema, no total order."""
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    b = d.select("lang", "n_chars", F.ntile(4).over(w).alias("bin"))
    return b.groupBy("lang", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        davg("n_chars").alias("avg_chars"),
    )


#: SimHash-as-integer: 16 bit-position sign votes over md5 token
#: hashes, packed into one BIGINT (operators/dedup.py simhash emits the
#: bit STRING; the int form enables bit_count hamming in both engines).
_SIG_SQL = simhash_oracle_sql(
    "CAST(1 AS BIGINT) << bit", "0", "CAST(SUM(s) AS BIGINT)", "sig"
)
_SIG_SPARK_SQL = simhash_sql("CAST({v} AS BIGINT)", "CAST(0 AS BIGINT)", " + ")


def _simhash_int(docs: DataFrame) -> DataFrame:
    """(doc_id, sig BIGINT) — int-packed SimHash (twin of _SIG_SQL):
    operators/dedup.py:simhash's per-doc vote aggregate, bit b worth
    ``1 << b`` when its vote sum is positive; the bit values are
    disjoint powers of two, so their sum is exact OR."""
    return simhash_packed(docs, _SIG_SPARK_SQL, "sig")


@register(
    "lm5_incremental_simhash_dedup",
    oracle=f"""
WITH sigs AS ({_SIG_SQL}),
  hist AS (SELECT doc_id, sig, sig & 15 AS b0, (sig >> 4) & 15 AS b1,
                  (sig >> 8) & 15 AS b2, (sig >> 12) & 15 AS b3
           FROM sigs WHERE doc_id % 10 <> 9),
  new  AS (SELECT doc_id, sig, sig & 15 AS b0, (sig >> 4) & 15 AS b1,
                  (sig >> 8) & 15 AS b2, (sig >> 12) & 15 AS b3
           FROM sigs WHERE doc_id % 10 = 9),
  cand AS (
    SELECT new.doc_id AS new_doc_id, hist.doc_id AS hist_doc_id,
           bit_count(xor(new.sig, hist.sig)) AS hamming
    FROM new JOIN hist ON new.b0 = hist.b0
    UNION
    SELECT new.doc_id, hist.doc_id, bit_count(xor(new.sig, hist.sig))
    FROM new JOIN hist ON new.b1 = hist.b1
    UNION
    SELECT new.doc_id, hist.doc_id, bit_count(xor(new.sig, hist.sig))
    FROM new JOIN hist ON new.b2 = hist.b2
    UNION
    SELECT new.doc_id, hist.doc_id, bit_count(xor(new.sig, hist.sig))
    FROM new JOIN hist ON new.b3 = hist.b3
  )
SELECT new_doc_id,
       COUNT(*) AS n_near_dups,
       MIN(hamming) AS best_hamming,
       (MIN(struct_pack(k := hamming, id := hist_doc_id))).id AS dup_of
FROM cand
WHERE hamming <= 3
GROUP BY new_doc_id
""",
    tags=("L2", "L1", "J1", "F10"),
)
def lm5_incremental_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup screen: SimHash the NEW batch (doc_id % 10
    = 9 plays the new arrivals) and band-join it against the HISTORICAL
    signature set; hamming ≤ 3 (of 16 bits) flags a near-dup, with the
    best (lowest-hamming, id-tiebroken) historical match reported.
    l1c is this pipeline's exact-hash twin; this is the fuzzy tier.

    Banding is FOUR 4-bit bands, matched to the threshold by
    pigeonhole: ≤ 3 differing bits can touch at most 3 bands, so at
    least one band is identical and recall at hamming ≤ 3 is EXACT
    (2 bands of 8 would only guarantee hamming ≤ 1 — the round-4
    review catch); production 64-bit sigs use 4 bands of 16 for the
    same guarantee. Scale shape: history is a persisted (doc_id, sig)
    table — 16 bytes a row, never the text — and the band equi-joins
    shuffle only the NEW batch against band-bucketed history; hamming
    is a single bit_count(xor) per candidate, so the screen is bounded
    by candidate count, not corpus size."""
    docs = load(spark, sf_dir, "documents")
    # Materialize the signature table ONCE (r12 optimization, guide
    # §2.4/§5 — the l4c/clustering.py idiom): the four band joins
    # consume `sigs` on BOTH sides (hist + new), and column pruning
    # specializes each consumer's copy of the aggregate so exchange
    # reuse never fires — measured on the r11 tree as 16 executed
    # corpus scans / 16 tokenize Generates for ONE query. The
    # checkpoint cuts that to a single tokenize+aggregate pass over a
    # (doc_id, sig) table of 16 bytes/row; every downstream join reads
    # the materialized rows. Per-call, inside the timed region — not
    # cross-run caching.
    sigs, _ = cut(_simhash_int(docs))
    banded = sigs.select(
        "doc_id",
        "sig",
        *[
            F.shiftright("sig", 4 * i).bitwiseAND(F.lit(15)).alias(f"b{i}")
            for i in range(4)
        ],
    )
    hist = banded.filter(F.col("doc_id") % 10 != 9)
    new = banded.filter(F.col("doc_id") % 10 == 9)

    def _cand(band: str) -> DataFrame:
        h = hist.select(
            F.col("doc_id").alias("hist_doc_id"),
            F.col("sig").alias("hist_sig"),
            F.col(band).alias("bk"),
        )
        n = new.select(
            F.col("doc_id").alias("new_doc_id"),
            F.col("sig").alias("new_sig"),
            F.col(band).alias("bk"),
        )
        return n.join(h, "bk").select(
            "new_doc_id",
            "hist_doc_id",
            F.bit_count(F.col("new_sig").bitwiseXOR(F.col("hist_sig"))).alias(
                "hamming"
            ),
        )

    cand = (
        _cand("b0")
        .union(_cand("b1"))
        .union(_cand("b2"))
        .union(_cand("b3"))
        .distinct()
    )
    return (
        cand.filter(F.col("hamming") <= 3)
        .groupBy("new_doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_near_dups"),
            F.min("hamming").alias("best_hamming"),
            F.min(
                F.struct(
                    F.col("hamming").alias("k"),
                    F.col("hist_doc_id").alias("id"),
                )
            )
            .getField("id")
            .alias("dup_of"),
        )
    )


@register(
    "lm6_negative_pair_audit",
    oracle=f"""
WITH n AS (SELECT COUNT(*) AS n FROM embeddings),
a AS (
  SELECT vec_id, embedding, label,
         (vec_id * 48271 + 7) % n.n AS partner
  FROM embeddings CROSS JOIN n
)
SELECT a.vec_id, b.vec_id AS partner_id,
       {cos_sql('a.embedding', 'b.embedding')} AS neg_cosine,
       a.label = b.label AS same_label
FROM a JOIN embeddings b ON b.vec_id = a.partner
WHERE a.vec_id <> b.vec_id
""",
    tags=("L3", "J1", "F3"),
)
def lm6_negative_pair_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive eval: pair each
    vector with a pseudo-random partner via an LCG step over the dense
    id space ((id·48271+7) mod N — engine-portable, rerun-stable,
    unlike RNG shuffles), then audit the negatives: cosine of each
    pair and whether the 'negative' accidentally shares the label
    (false negatives a contrastive loss must tolerate or filter).

    The corpus size N is a 1-row broadcast (same pattern as l3's query
    row); pairing is then a single equi-join on partner id — no
    quadratic, no RNG state, any scale."""
    emb = load(spark, sf_dir, "embeddings")
    n = emb.agg(F.count(F.lit(1)).alias("n"))
    a = emb.crossJoin(F.broadcast(n)).select(
        "vec_id",
        "embedding",
        "label",
        ((F.col("vec_id") * 48271 + 7) % F.col("n")).alias("partner"),
    )
    b = emb.select(
        F.col("vec_id").alias("partner_id"),
        F.col("embedding").alias("p_emb"),
        F.col("label").alias("p_label"),
    )
    return (
        a.join(b, a["partner"] == b["partner_id"])
        .filter(F.col("vec_id") != F.col("partner_id"))
        .select(
            "vec_id",
            "partner_id",
            cosine_similarity_col(
                as_double_array(F.col("embedding")), as_double_array(F.col("p_emb"))
            ).alias("neg_cosine"),
            (F.col("label") == F.col("p_label")).alias("same_label"),
        )
    )


@register(
    "lm4b_broadcast_quantile_bins",
    oracle="""
WITH ranked AS (
  SELECT lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents
), cuts AS (
  SELECT lang,
         MAX(CASE WHEN rn = CAST(CEIL(0.25 * n) AS BIGINT) THEN n_chars END) AS c25,
         MAX(CASE WHEN rn = CAST(CEIL(0.50 * n) AS BIGINT) THEN n_chars END) AS c50,
         MAX(CASE WHEN rn = CAST(CEIL(0.75 * n) AS BIGINT) THEN n_chars END) AS c75
  FROM ranked GROUP BY lang
), binned AS (
  SELECT d.lang,
         1 + CAST(d.n_chars > c.c25 AS INT) + CAST(d.n_chars > c.c50 AS INT)
           + CAST(d.n_chars > c.c75 AS INT) AS bin,
         d.n_chars
  FROM documents d JOIN cuts c USING (lang)
)
SELECT lang, bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars
FROM binned GROUP BY lang, bin
""",
    tags=("W1", "A1", "L4", "J8"),
)
def lm4b_broadcast_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lm4's documented 100 TB swap, implemented: curriculum bins via
    BROADCAST quantile cutpoints instead of NTILE's per-key total
    order. Cutpoints are the values at ranks ceil(q·n) (discrete
    quantiles — rank positions, no interpolation, so both engines pick
    the identical element); bin assignment is then one broadcast join
    + three comparisons, map-side on the scan. Semantics differ from
    NTILE only at ties: equal lengths always share a bin here (a
    property a curriculum actually wants), where NTILE splits them to
    equalize bin sizes.

    Scale shape: the rank pass here uses a per-lang window for
    oracle-replayability; at 100 TB the cutpoints come from one
    approx-quantile sketch pass (or this exact rank pass run rarely),
    and the hot path — assignment — touches the corpus exactly once
    with no shuffle and no sort. The cutpoint table is |langs|×3,
    broadcast."""
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    cw = Window.partitionBy("lang")
    ranked = d.select(
        "lang",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(cw).alias("n"),
    )
    cuts = ranked.groupBy("lang").agg(
        *[
            F.max(
                F.when(
                    F.col("rn")
                    == F.ceil(F.lit(q) * F.col("n")).cast("long"),
                    F.col("n_chars"),
                )
            ).alias(name)
            for q, name in ((0.25, "c25"), (0.50, "c50"), (0.75, "c75"))
        ]
    )
    binned = d.join(F.broadcast(cuts), "lang").select(
        "lang",
        (
            F.lit(1)
            + (F.col("n_chars") > F.col("c25")).cast("int")
            + (F.col("n_chars") > F.col("c50")).cast("int")
            + (F.col("n_chars") > F.col("c75")).cast("int")
        ).alias("bin"),
        "n_chars",
    )
    return binned.groupBy("lang", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


#: DSIR feature-hash geometry: unigram + bigram features hashed into
#: _DSIR_B buckets via the house md5 arithmetic (pipeline_ops.py
#: precedent). 256 buckets keeps the model table broadcast-tiny at any
#: corpus size; the paper (Xie et al. 2023) uses 10k — a constant.
_DSIR_B = 256
#: Laplace smoothing constant for both bucket models.
_DSIR_A = 1


@register(
    "lm7_dsir_importance",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
), feats AS (
  SELECT doc_id, lang,
         {unigram_bigram_features_sql("toks")} AS fs
  FROM t
), fx AS (
  SELECT doc_id, lang,
         CAST(CONCAT('0x', SUBSTRING(md5(u.f), 1, 8)) AS BIGINT) % {_DSIR_B} AS b
  FROM feats, UNNEST(fs) AS u(f)
), raw_model AS (
  SELECT b, COUNT(*) AS cr FROM fx GROUP BY 1
), tgt_model AS (
  SELECT b, COUNT(*) AS ct FROM fx WHERE lang = 'en' GROUP BY 1
), tots AS (
  SELECT (SELECT COUNT(*) FROM fx) AS tot_r,
         (SELECT COUNT(*) FROM fx WHERE lang = 'en') AS tot_t
), llr AS (
  SELECT r.b,
         ROUND(LN((CAST(COALESCE(ct, 0) + {_DSIR_A} AS DOUBLE)
                     / (tot_t + {_DSIR_A} * {_DSIR_B}))
                  / (CAST(cr + {_DSIR_A} AS DOUBLE)
                     / (tot_r + {_DSIR_A} * {_DSIR_B}))), 8) AS w
  FROM raw_model r LEFT JOIN tgt_model USING (b) CROSS JOIN tots
), per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_features,
         {dsum_sql('w')} AS s
  FROM fx JOIN llr USING (b) GROUP BY 1
)
SELECT doc_id, n_features,
       ROUND(s / n_features, 6) AS dsir_logw,
       ROUND(s / n_features, 6) > 0 AS resembles_target
FROM per_doc
""",
    tags=("L5", "L4", "A1", "J8"),
)
def lm7_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): hashed unigram+bigram
    bag-of-features bucket models for a TARGET distribution (here the
    ``lang = 'en'`` slice standing in for the paper's high-quality
    reference corpus) and the RAW corpus, Laplace-smoothed; each
    document scores the mean log importance ratio of its feature
    occurrences, ln(p_target(b)/p_raw(b)). Positive mean = the doc's
    feature mix resembles the target more than the raw pool — the
    selection signal DSIR resamples by.

    Plan shape: one explode produces the (doc, bucket) feature
    stream; BOTH bucket models come out of a SINGLE conditional
    aggregate of that stream (map-side combine into <= {_DSIR_B}
    groups — constant-size state, the po6 sketch discipline), and the
    Laplace totals are unpartitioned-window sums OVER the
    {_DSIR_B}-row model table (w8 discipline: post-aggregation rows
    only) — NOT a separate aggregate, because every extra reference
    to a corpus-derived DataFrame re-expands the scan+explode through
    unreused lineage (the separate raw-model/target-model/totals
    formulation ran the explode four times; a per-(doc,bucket)
    count-table rewrite made it worse — three explodes plus two wide
    shuffles). This shape explodes the corpus exactly twice (model
    build + scoring), the honest minimum without caching. The scored
    join is (doc,bucket) x the broadcast {_DSIR_B}-row model; per-doc
    reduction is one map-side-combined hash aggregate. No all-pairs,
    no vocabulary-sized shuffle — the model table is CONSTANT
    regardless of corpus size, which is the whole point of feature
    hashing at 100 TB. Selection here is the scan-only threshold flag
    (mean > 0); top-k selection would add one sort and is
    deliberately left to the caller (rank-free outputs compose with
    lm1/lm3 sampling). Determinism: per-bucket log-ratio rounded 8dp
    (identical expression tree both engines), exact DECIMAL per-doc
    sum (order-free), mean rounded 6dp."""
    d = load(spark, sf_dir, "documents")
    feats = d.select(
        "doc_id", "lang", F.split(F.col("text"), " ").alias("toks")
    ).select("doc_id", "lang", unigram_bigram_features("toks").alias("fs"))
    fx = feats.select(
        "doc_id", "lang", F.explode(F.col("fs")).alias("f")
    ).select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5(F.col("f")), 1, 8), 16, 10).cast("long")
            % _DSIR_B
        ).alias("b"),
    )
    model = fx.groupBy("b").agg(
        F.count(F.lit(1)).alias("cr"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("ct"),
    )
    m = _DSIR_A * _DSIR_B
    wtot = Window.partitionBy()
    tot_r = F.sum("cr").over(wtot)
    tot_t = F.sum("ct").over(wtot)
    w = F.round(
        F.log(
            ((F.col("ct") + _DSIR_A).cast("double") / (tot_t + m))
            / ((F.col("cr") + _DSIR_A).cast("double") / (tot_r + m))
        ),
        8,
    )
    llr = model.select("b", w.alias("w"))
    per_doc = (
        fx.join(F.broadcast(llr), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_features"),
            dsum("w").alias("s"),
        )
    )
    mean = F.round(F.col("s") / F.col("n_features"), 6)
    return per_doc.select(
        "doc_id",
        "n_features",
        mean.alias("dsir_logw"),
        (mean > 0).alias("resembles_target"),
    )


#: lm8 incremental-MinHash acceptance: the lm5 history/new-batch split
#: (doc_id % 10 = 9 plays the arrivals), l2i's MinHash geometry
#: (operators/dedup.py MINHASH_*), and a >= 12-of-24 matching-component
#: acceptance (estimated Jaccard >= 0.5 — the l2n-audited operating
#: point).
_LM8_MIN_MATCH = 12


def _lm8_oracle(cap: int | None) -> str:
    return f"""
WITH {minhash_signatures_sql()},
hist AS (SELECT * FROM sigs WHERE doc % 10 <> 9),
new AS (SELECT * FROM sigs WHERE doc % 10 = 9),
{incremental_minhash_matches_sql(cap)}
SELECT new_doc AS new_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_near_dups,
       CAST(MAX(m) AS BIGINT) AS best_matching,
       ROUND(CAST(MAX(m) AS DOUBLE) / {MINHASH_HASHES}, 6) AS best_est_jaccard,
       (MIN(struct_pack(k := {MINHASH_HASHES} - m, id := hist_doc))).id AS dup_of
FROM scored
WHERE m >= {_LM8_MIN_MATCH}
GROUP BY 1
"""


@register(
    "lm8_incremental_minhash_dedup",
    oracle=_lm8_oracle(None),
    tags=("L2", "L1", "J1", "F10"),
)
def lm8_incremental_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup screen for the BANDED family — lm5's
    SimHash tier rebuilt on MinHash signatures, completing the
    incremental story for both fuzzy-dedup families: the persisted
    history is the l2i signature table ((doc, 24 longs) — never the
    text, which an incremental pipeline no longer has for old docs),
    the NEW batch (doc_id % 10 = 9 plays the arrivals) is signed and
    banded identically, band equi-joins generate candidates against
    history only, and acceptance is the SIGNATURE-level Jaccard
    estimate: matching components / 24 >= 0.5 (>= 12 of 24) — the
    estimator whose banding operating point l2n audits (97%
    theoretical recall at J = 0.5; measured 99.6%). Per new doc:
    candidate count, best estimate, and the best (highest-match,
    id-tiebroken) historical match. l1c is the exact tier, lm5 the
    SimHash tier; this is the MinHash tier.

    Plan shape: signatures are in-row array-HOF chains
    (operators/dedup.py:minhash_signatures — the SAME stage the batch
    l2i pipeline runs, so history and arrivals provably share
    arithmetic); the screen is operators/dedup.py:
    incremental_minhash_matches (uncapped here): the band join
    shuffles only (doc, band_key) rows of the NEW batch against
    band-bucketed history, and the match count is an in-row
    zip-compare of two 24-long arrays per CANDIDATE (no token re-read
    — the text never participates). At 100 TB the history side is
    192 bytes/doc and the incremental cost is bounded by the arrival
    batch times its candidate fan-out, exactly why production web
    dedup persists signatures, not shingles.
    Determinism: integer match counts, ROUND only at the reported
    estimate; the (highest-match, lowest-id) tie-break is a structural
    MIN over a (24-m, id) struct — lexicographic in both engines, so
    it holds at ANY doc-id magnitude (an arithmetic key like
    (24-m)*1e6+id would silently stop encoding the priority once ids
    pass the multiplier — the 100 TB corpora this docstring targets)."""
    return _lm8(spark, sf_dir, None)


def _lm8(spark: SparkSession, sf_dir: str, cap: int | None) -> DataFrame:
    """lm8/lm8b body with the hot-bucket ceiling as a parameter (lm8
    passes None, lm8b _LM8B_CAP); twin of :func:`_lm8_oracle`."""
    sig = minhash_signatures(load(spark, sf_dir, "documents"))
    scored = incremental_minhash_matches(
        sig.filter(F.col("doc") % 10 != 9), sig.filter(F.col("doc") % 10 == 9), cap
    )
    return (
        scored.filter(F.col("m") >= _LM8_MIN_MATCH)
        .groupBy(F.col("new_doc").alias("new_doc_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_near_dups"),
            F.max("m").cast("bigint").alias("best_matching"),
            F.round(F.max("m").cast("double") / MINHASH_HASHES, 6).alias(
                "best_est_jaccard"
            ),
            F.min(
                F.struct(
                    (F.lit(MINHASH_HASHES) - F.col("m")).cast("long").alias("k"),
                    F.col("hist_doc").alias("id"),
                )
            )
            .getField("id")
            .alias("dup_of"),
        )
    )


def _lm9_oracle() -> str:
    sqrt_kept = "SQRT(CAST(kept_tokens AS DOUBLE))"
    return f"""
{l5j_verdict_ctes_sql()}, surv AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs_raw,
         CAST(SUM(n_tokens) AS BIGINT) AS raw_tokens,
         CAST(SUM(CASE WHEN verdict = 'keep' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_docs_kept,
         CAST(SUM(CASE WHEN verdict = 'keep' THEN n_tokens ELSE 0 END)
              AS BIGINT) AS kept_tokens
  FROM v GROUP BY 1
)
SELECT source, n_docs_raw, n_docs_kept, raw_tokens, kept_tokens,
       ROUND(CAST(kept_tokens AS DOUBLE) / raw_tokens, 8) AS survival_rate,
       ROUND(CAST(kept_tokens AS DOUBLE)
         / CAST(SUM(kept_tokens) OVER () AS DOUBLE), 8) AS natural_share,
       ROUND({sqrt_kept} / {dsum_sql(sqrt_kept, over='')}, 8)
         AS mix_weight,
       CASE WHEN kept_tokens = 0 THEN 0.0
            ELSE ROUND(({sqrt_kept} / {dsum_sql(sqrt_kept, over='')})
               / (CAST(kept_tokens AS DOUBLE)
                  / CAST(SUM(kept_tokens) OVER () AS DOUBLE)), 8)
       END AS boost
FROM surv
"""


@register(
    "lm9_curated_mix_weights",
    oracle=_lm9_oracle(),
    tags=("L4", "L5", "A1", "W4"),
)
def lm9_curated_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The funnel feeds the mixer: lm1's temperature weighting
    (alpha = 0.5) computed over the token mass that SURVIVES the l5j
    curation pipeline, per source — the RedPajama/Dolma recipe step
    where mixing proportions are fixed only after dedup + gates +
    decontamination, because per-source survival rates differ (a
    source that is 80% boilerplate should be weighted by its curated
    fifth, not its raw bulk). Emits the raw-vs-kept accounting next
    to the weights so the survival correction is auditable; composes
    the SAME l5j_doc_verdicts relation the funnel aggregates, so the
    mixer provably weights exactly the corpus the pipeline releases.

    Plan shape: one grouped aggregate of the shared verdict relation
    to |sources| rows, then the lm1 math over those rows —
    SQRT numerator (IEEE-exact cross-engine), decimal window-sum
    denominator, unpartitioned windows over post-aggregation rows
    only, and every emitted ratio ROUNDed to 8dp on BOTH engines —
    the w8 canon: double→DECIMAL window-sum ratios can drift in the
    last ulp across engines at larger scale factors (w8/st29
    precedent), so the unrounded double never leaves the plan.
    A source whose curated mass is zero gets boost 0 by
    explicit CASE (0/0 guard), exact both engines. Adds nothing to
    l5j's bounded corpus-scan budget beyond the one extra grouped
    aggregate."""
    v = l5j_doc_verdicts(spark, sf_dir)
    surv = v.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs_raw"),
        F.sum("n_tokens").cast("bigint").alias("raw_tokens"),
        F.sum(F.when(F.col("verdict") == "keep", 1).otherwise(0))
        .cast("bigint")
        .alias("n_docs_kept"),
        F.sum(F.when(F.col("verdict") == "keep", F.col("n_tokens")).otherwise(0))
        .cast("bigint")
        .alias("kept_tokens"),
    )
    w = Window.partitionBy()
    sqrt_kept = F.sqrt(F.col("kept_tokens").cast("double"))
    total_sqrt = dsum(sqrt_kept, over=w)
    total_kept = F.sum("kept_tokens").over(w).cast("double")
    mix_weight = sqrt_kept / total_sqrt
    natural_share = F.col("kept_tokens").cast("double") / total_kept
    return surv.select(
        "source",
        "n_docs_raw",
        "n_docs_kept",
        "raw_tokens",
        "kept_tokens",
        F.round(
            F.col("kept_tokens").cast("double") / F.col("raw_tokens"), 8
        ).alias("survival_rate"),
        F.round(natural_share, 8).alias("natural_share"),
        F.round(mix_weight, 8).alias("mix_weight"),
        F.when(F.col("kept_tokens") == 0, F.lit(0.0))
        .otherwise(F.round(mix_weight / natural_share, 8))
        .alias("boost"),
    )


#: lm8b hot-bucket ceiling: a history (band, key) bucket larger than
#: this is skipped during candidate generation. Measured on the
#: sf0.01 fixture (SCALING.md density note, now enforced behavior):
#: history bucket sizes avg 20.8 / p90 43 / max 300; cap 50 cuts
#: candidate pairs 21,102 -> 4,177 (-80%) and signature compares
#: 16,466 -> 3,096 while still flagging 43 of the 49 uncapped
#: near-dup arrivals — the 6 lost are reachable ONLY through >50-doc
#: boilerplate buckets, exactly the class production LSH skips.
#: Shared by lm8b AND (from round 9) lm10's fuzzy screen — the
#: incremental capstone carries the same bound as the dedicated
#: capped dedup, per the r8 verdict's top next-step.
_LM8B_CAP = 50


#: lm10 incremental-curation stage order: cheap exact-hash screen
#: against history first (l1c's tier), then the in-row gates in l5j's
#: relative order (length -> stopword -> classifier), then the
#: join-bearing fuzzy screen against history last (lm8's tier) — the
#: same cheap-before-expensive ordering l5j uses for the batch stack.
_LM10_STAGES = (
    "exact_dup_hist",
    "bad_length",
    "low_stopword",
    "low_quality",
    "near_dup_minhash_hist",
)


def _lm10_oracle() -> str:
    gates = ",\n         ".join(
        f"{e} AS {g}" for g, e in gate_flags_sql("n.toks", "wv").items()
    )
    return f"""
WITH {minhash_signatures_sql()},
w AS (SELECT {l5i_weights_sql()} AS wv),
hist_h AS (
  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 10 <> 9
), arrivals AS (
  SELECT doc_id, source, md5(text) AS h, string_split(text, ' ') AS toks
  FROM documents WHERE doc_id % 10 = 9
), hist AS (SELECT * FROM sigs WHERE doc % 10 <> 9),
new AS (SELECT * FROM sigs WHERE doc % 10 = 9),
{incremental_minhash_matches_sql(_LM8B_CAP)}, nd AS (
  SELECT DISTINCT new_doc AS doc_id FROM scored WHERE m >= {_LM8_MIN_MATCH}
), flags AS (
  SELECT n.source, CAST(LEN(n.toks) AS BIGINT) AS n_tokens,
         hh.h IS NOT NULL AS exact_dup_hist,
         {gates},
         nd.doc_id IS NOT NULL AS near_dup_minhash_hist
  FROM arrivals n
  CROSS JOIN w
  LEFT JOIN hist_h hh ON hh.h = n.h
  LEFT JOIN nd ON nd.doc_id = n.doc_id
), v AS (
  SELECT source, n_tokens, {first_fail_sql(_LM10_STAGES)} AS verdict
  FROM flags
){funnel_tail_sql(_LM10_STAGES)}"""


@register(
    "lm10_incremental_curation_funnel",
    oracle=_lm10_oracle(),
    tags=("L5", "L1", "L2", "J4", "A1"),
)
def lm10_incremental_curation_funnel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The DAILY-INGEST twin of the l5j batch capstone: a new arrival
    batch (doc_id % 10 = 9, the lm5/lm8 geometry) is curated against
    the accumulated HISTORY using only the state an incremental
    pipeline actually persists — the md5 content-hash set (l1c's
    tier) and the 24-long MinHash signature table (lm8's tier), never
    historical raw text — plus the in-row gates that need no history
    at all (l5j's length / stopword / l5i classifier rules: the same
    gate_flags kernel, and the same first_fail verdict). Emits
    the same per-stage funnel relation as l5j (docs in/removed/out,
    surviving token mass, removal fraction), produced by the SHARED
    verdict_funnel / funnel_tail_sql fragments so the daily funnel's
    accounting provably equals the batch funnel's.

    Plan shape: the exact screen is a hash-keyed left join of the
    arrival batch against the persisted hash set (16-byte keys, no
    text); the gates ride the arrival scan in-row (the wv model is
    one broadcast row); the fuzzy screen is lm8b's CAPPED screen
    (operators/dedup.py:incremental_minhash_matches with cap
    _LM8B_CAP): a banded equi-join of arrival band keys against
    history band keys with the in-row 24-slot signature compare —
    history (band, key) buckets larger than the cap are skipped
    BEFORE the signature join (one key-sized grouped aggregate +
    HAVING, incrementally maintainable as a per-key count at
    100 TB), so a boilerplate bucket can no
    longer turn the daily cost into O(batch x hottest-bucket) — the
    r8 verdict's remaining seam, closed. Every history-sized
    structure is keyed state, every shuffle moves hashes. At 100 TB
    the per-day cost is O(batch + capped candidates), independent of
    corpus age; the funnel reduction itself is one grouped aggregate
    to |stages|+1 rows and windows over those rows only (w8
    discipline)."""
    return _lm10_funnel(spark, sf_dir, cap=_LM8B_CAP)


def _lm10_funnel(spark: SparkSession, sf_dir: str, cap: int | None) -> DataFrame:
    """lm10 body with the hot-bucket ceiling as a parameter, so the
    property test can diff the capped funnel against the uncapped one
    (cap=None) — same discipline as the lm8/lm8b pair."""
    d = load(spark, sf_dir, "documents")
    hist_h = (
        d.filter(F.col("doc_id") % 10 != 9)
        .select(F.md5(F.col("text").cast("binary")).alias("h"))
        .distinct()
        .select("h", F.lit(True).alias("_ex"))
    )
    new = d.filter(F.col("doc_id") % 10 == 9).select(
        "doc_id",
        "source",
        F.md5(F.col("text").cast("binary")).alias("h"),
        tokenize(F.col("text")).alias("toks"),
    )
    sig = minhash_signatures(d)
    nd = (
        incremental_minhash_matches(
            sig.filter(F.col("doc") % 10 != 9), sig.filter(F.col("doc") % 10 == 9), cap
        )
        .filter(F.col("m") >= _LM8_MIN_MATCH)
        .select(F.col("new_doc").alias("doc_id"))
        .distinct()
        .select("doc_id", F.lit(True).alias("_nd"))
    )
    gates = gate_flags("toks", "wv")
    flags = with_quality_weights(
        new.join(hist_h, "h", "left").join(nd, "doc_id", "left")
    ).select(
        "source",
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.coalesce(F.col("_ex"), F.lit(False)).alias("exact_dup_hist"),
        *[c.alias(g) for g, c in gates.items()],
        F.coalesce(F.col("_nd"), F.lit(False)).alias("near_dup_minhash_hist"),
    )
    v = flags.select(
        "source", "n_tokens", first_fail(_LM10_STAGES).alias("verdict")
    )
    return verdict_funnel(spark, v, _LM10_STAGES)


@register(
    "lm8b_capped_minhash_dedup",
    oracle=_lm8_oracle(_LM8B_CAP),
    tags=("L2", "L1", "J1", "F10"),
)
def lm8b_capped_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lm8's incremental MinHash screen with the FAN-OUT CAP a
    production LSH pipeline enforces: history (band, key) buckets
    holding more than _LM8B_CAP docs are skipped during candidate
    generation. Rationale: a B-doc bucket contributes B candidate
    compares per colliding arrival, so near-constant bands (template
    boilerplate, empty-ish docs) turn the incremental cost from
    O(batch) into O(batch x hottest-bucket) — the exact blowup the
    sf0.01 fixture exhibits (see _LM8B_CAP: -80% candidate pairs,
    43/49 arrivals still flagged; the misses are boilerplate-only
    paths). Same output relation as lm8, so the two are directly
    diffable; lm8 stays the exhaustive-banding reference.

    Plan shape: the bucket-size relation is ONE grouped aggregate of
    the history band table (key-sized rows — at 100 TB this is
    maintainable incrementally as a count per key), the cap is a
    HAVING on that aggregate, and candidates join arrivals against
    surviving buckets only, so the cap bounds BOTH the shuffle volume
    and the per-arrival compare count BEFORE the expensive signature
    join. The screen is operators/dedup.py:incremental_minhash_matches
    with cap _LM8B_CAP, sharing lm8's body (_lm8) and oracle
    (_lm8_oracle) — signatures, banding, the slot-match count and the
    structural (rank, id) tie-break are lm8's."""
    return _lm8(spark, sf_dir, _LM8B_CAP)
