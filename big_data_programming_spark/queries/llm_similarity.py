"""Vector similarity-search queries (SURVEY.md §2.11 L3) — thin
wrappers over operators/similarity.py.

Oracle note: cosine is spelled out as zip-multiply → left-fold → norms
in BOTH engines (identical op order → bit-identical doubles) instead of
DuckDB's list_cosine_similarity, whose internal summation order is not
guaranteed to match Spark's F.aggregate fold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_programming_spark.operators.similarity import (
    as_double_array,
    knn_join,
    bucketed_near_pairs,
    cosine_similarity_col,
    label_centroids,
    lsh_sign_bucket,
    topk_cosine,
)
from big_data_programming_spark.functions.canonical import cos_sql, davg_sql
from big_data_programming_spark.registry import register
from big_data_programming_spark.sources.loaders import load, register_views


@register(
    "l3_cosine_topk",
    oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id,
       {cos_sql('e.embedding', 'q.qv')} AS cosine_sim
FROM embeddings e CROSS JOIN q
ORDER BY cosine_sim DESC, e.vec_id
LIMIT 10
""",
    tags=("L3", "O2", "F4"),
)
def l3_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-10 cosine neighbors of vector 0: broadcast the
    query row, one corpus scan, TakeOrderedAndProject top-k. The
    baseline ANN path — exact, single-pass, no shuffle."""
    emb = load(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(
        as_double_array(F.col("embedding")).alias("q")
    )
    return topk_cosine(emb, query, k=10)


@register(
    "l3b_bucketed_near_pairs",
    oracle=f"""
WITH b AS (
  SELECT vec_id, embedding,
         array_to_string(list_transform(list_slice(embedding, 1, 8),
                         x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
  FROM embeddings
)
SELECT l.vec_id AS vec_a, r.vec_id AS vec_b,
       {cos_sql('l.embedding', 'r.embedding')} AS cosine_sim
FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
WHERE {cos_sql('l.embedding', 'r.embedding')} >= 0.2
""",
    tags=("L3", "L2", "J1"),
)
def l3b_bucketed_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-pairs via sign-LSH bucketing: equi-join on the
    8-plane orthant bucket (≈n²/256 candidates), exact cosine on the
    survivors — the scale path for pairwise similarity (L7 rule: never
    all-pairs)."""
    return bucketed_near_pairs(
        load(spark, sf_dir, "embeddings"), threshold=0.2, n_planes=8
    )


@register(
    "l3c_label_centroid_sim",
    oracle=f"""
WITH flat AS (
  SELECT label, g.pos AS pos, CAST(embedding[g.pos] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS pos) g
), cent AS (
  SELECT label, pos,
         {davg_sql('x')} AS cx
  FROM flat GROUP BY label, pos
), cvec AS (
  SELECT label, list(cx ORDER BY pos) AS centroid
  FROM cent GROUP BY label
)
SELECT e.vec_id, e.label,
       ROUND({cos_sql('e.embedding', 'c.centroid')}, 6) AS sim_to_centroid
FROM embeddings e JOIN cvec c USING (label)
ORDER BY e.vec_id
""",
    tags=("L3", "A1", "F4"),
)
def l3c_label_centroid_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style coarse quantization step: per-label centroids (the
    'inverted file' list heads), then each vector's similarity to its
    own centroid. Demonstrates vector aggregation (element-wise mean
    across rows) as posexplode → hash agg → re-assemble. The centroid
    mean uses the decimal canon (functions/canonical.py) — the decimal
    sum is exact and order-free, so the centroid doubles (and hence the
    cosine) are bit-identical at any partition count, which is what
    lets this carry a full value-hash oracle instead of a rows-only
    check."""
    emb = load(spark, sf_dir, "embeddings")
    centroids = label_centroids(emb)
    return (
        emb.join(F.broadcast(centroids), "label")
        .select(
            "vec_id",
            "label",
            F.round(
                cosine_similarity_col(as_double_array(F.col("embedding")), F.col("centroid")), 6
            ).alias("sim_to_centroid"),
        )
        .orderBy("vec_id")
    )


@register(
    "l3d_knn_label_vote",
    oracle=f"""
WITH q AS (SELECT embedding AS qv, label AS qlabel FROM embeddings WHERE vec_id = 7),
nn AS (
  SELECT e.vec_id, e.label,
         {cos_sql('e.embedding', 'q.qv')} AS sim
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> 7
  ORDER BY sim DESC, e.vec_id
  LIMIT 15
)
SELECT label, COUNT(*) AS votes
FROM nn
GROUP BY label
""",
    tags=("L3", "A1", "O2"),
)
def l3d_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification vote: top-15 neighbors of vector 7, counted
    by label — the evaluation-side primitive for embedding quality."""
    emb = load(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 7).select(
        as_double_array(F.col("embedding")).alias("q")
    )
    sims = (
        emb.filter(F.col("vec_id") != 7)
        .crossJoin(F.broadcast(query))
        .select(
            "vec_id",
            "label",
            cosine_similarity_col(as_double_array(F.col("embedding")), F.col("q")).alias("sim"),
        )
    )
    nn = sims.orderBy(F.col("sim").desc(), F.col("vec_id")).limit(15)
    return nn.groupBy("label").agg(F.count(F.lit(1)).alias("votes"))


@register(
    "l3f_ivf_probe_topk",
    oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
flat AS (
  SELECT label, g.pos AS pos, CAST(embedding[g.pos] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS pos) g
), cent AS (
  SELECT label, pos,
         {davg_sql('x')} AS cx
  FROM flat GROUP BY label, pos
), cvec AS (
  SELECT label, list(cx ORDER BY pos) AS centroid
  FROM cent GROUP BY label
), probe AS (
  SELECT c.label
  FROM cvec c CROSS JOIN q
  ORDER BY {cos_sql('c.centroid', 'q.qv')} DESC, c.label
  LIMIT 2
)
SELECT e.vec_id, e.label,
       {cos_sql('e.embedding', 'q.qv')} AS cosine_sim
FROM embeddings e JOIN probe USING (label) CROSS JOIN q
ORDER BY cosine_sim DESC, e.vec_id
LIMIT 10
""",
    tags=("L3", "L7", "O2"),
)
def l3f_ivf_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe with a *deterministic* coarse quantizer: per-label
    decimal-exact centroids (operators/similarity.py:label_centroids)
    stand in for k-means lists, so — unlike l3e's seeded-KMeans build —
    the whole probe path is bit-reproducible and carries a full
    value-hash oracle. Rank centroids by cosine to the query, keep the
    nprobe=2 nearest lists (~20% of this corpus), exact top-10 within
    them. Every stage is a broadcast: centroids are n_labels rows, the
    probe set is nprobe rows — the corpus-side plan is scan → filter →
    TakeOrderedAndProject with no shuffle."""
    emb = load(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(
        as_double_array(F.col("embedding")).alias("q")
    )
    probe = (
        label_centroids(emb)
        .crossJoin(F.broadcast(query))
        .select("label", cosine_similarity_col(F.col("centroid"), F.col("q")).alias("csim"))
        .orderBy(F.col("csim").desc(), "label")
        .limit(2)
        .select("label")
    )
    cand = emb.join(F.broadcast(probe), "label")
    return (
        cand.crossJoin(F.broadcast(query))
        .select(
            "vec_id",
            "label",
            cosine_similarity_col(as_double_array(F.col("embedding")), F.col("q")).alias(
                "cosine_sim"
            ),
        )
        .orderBy(F.col("cosine_sim").desc(), "vec_id")
        .limit(10)
    )


@register(
    "l3e_ivf_topk",
    oracle=None,
    rows_only_reason=(
        "IVF relies on k-means centroids (iterative, init-order-dependent) "
        "that no SQL engine can reproduce; semantics pinned instead by "
        "tests/test_operators.py recall-vs-brute-force and by l3f, whose "
        "fixed-grid variant of the same probe plan IS oracle-paired"
    ),  # recall vs
    # brute force and the nprobe=n_lists exactness are asserted in
    # tests/test_operators.py
    tags=("L3", "L7", "O2"),
)
def l3e_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF ANN pipeline: k-means coarse quantizer → inverted-list
    assignment → probe the 4 nearest lists of 16 for vector 0's
    neighbors. Scans ~1/4 of the corpus instead of all of it — with
    the assigned table partitioned by list_id on disk, the probe is
    partition pruning (operators/similarity.py:ivf_build)."""
    from big_data_programming_spark.operators.similarity import ivf_build, ivf_topk

    emb = load(spark, sf_dir, "embeddings")
    assigned, centers = ivf_build(emb, n_lists=16)
    query = emb.filter(F.col("vec_id") == 0).select(
        as_double_array(F.col("embedding")).alias("q")
    )
    return ivf_topk(assigned, centers, query, k=10, nprobe=4)


@register(
    "l3g_batch_knn_join",
    oracle=f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5)
SELECT q.query_id, e.vec_id,
       {cos_sql('e.embedding', 'q.qv')} AS cosine_sim,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY q.query_id
           ORDER BY {cos_sql('e.embedding', 'q.qv')} DESC, e.vec_id
       ) AS INT) AS rank
FROM embeddings e JOIN q ON e.vec_id <> q.query_id
QUALIFY rank <= 5
""",
    tags=("L3", "W6", "J8", "sk1"),
)
def l3g_batch_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch k-NN join: exact top-5 neighbors for each of 5 query
    vectors in one pass — broadcast query set, salted two-stage
    per-query top-k (operators/similarity.py:knn_join) so few query
    keys never hot-key the shuffle. The shape of embedding-based
    retrieval-eval and hard-negative mining jobs."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        as_double_array(F.col("embedding")).alias("q"),
    )
    return knn_join(emb, queries, k=5)


#: Hash-seeded ±1 projection matrix, 16 rows × 64 cols — identical
#: expression in both engines (md5 parity of 'rp-{j}-{i}'), so the
#: "random" projection is reproducible and oracle-portable.
_RP_MATRIX_SQL = """transform(sequence(1, 16), j -> transform(sequence(1, 64), i ->
  CASE WHEN substring(md5(concat('rp-', j, '-', i)), 1, 1) IN ('0','2','4','6','8','a','c','e')
       THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END))"""

_RP_MATRIX_DUCK = """list_transform(generate_series(1, 16), j -> list_transform(generate_series(1, 64), i ->
  CASE WHEN substring(md5(concat('rp-', j, '-', i)), 1, 1) IN ('0','2','4','6','8','a','c','e')
       THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END))"""


@register(
    "l3h_random_projection_topk",
    oracle=f"""
WITH m AS (SELECT {_RP_MATRIX_DUCK} AS mat),
p AS (
  SELECT vec_id, embedding,
         list_transform(mat, row ->
           list_reduce(list_transform(generate_series(1, 64),
                       i -> row[i] * CAST(embedding[i] AS DOUBLE)), (x, y) -> x + y)) AS proj
  FROM embeddings, m
),
q AS (SELECT proj AS qp, embedding AS qe FROM p WHERE vec_id = 0)
SELECT p.vec_id,
       {cos_sql('p.proj', 'q.qp', k=16)} AS proj_sim,
       {cos_sql('p.embedding', 'q.qe')} AS cosine_sim
FROM p CROSS JOIN q
ORDER BY proj_sim DESC, p.vec_id
LIMIT 10
""",
    tags=("L3", "F4", "O2"),
)
def l3h_random_projection_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss candidate generation: project 64-d
    embeddings to 16-d with a ±1 matrix whose entries are md5-hash
    parities — a *reproducible* random projection (same matrix on any
    engine, any rebuild; contrast lsh_sign_bucket's axis-aligned
    planes, which ignore 56 of 64 coordinates). Top-10 candidates are
    ranked by projected cosine with the exact 64-d cosine attached
    for rescoring. Scale shape: the matrix is built ONCE as a 1-row
    broadcast (no per-row md5 churn), projection is a pure JVM-side
    map that shrinks every downstream byte 4× (64×f32 → 16-component
    f64 sums read from 256→128 bytes, and real deployments project
    768-d → 32-d), and top-k stays TakeOrderedAndProject. The 4×
    dimension cut is what makes a billion-vector candidate pass
    memory-feasible before exact rescoring of the survivors."""
    emb = load(spark, sf_dir, "embeddings")
    mat = spark.range(1).select(F.expr(_RP_MATRIX_SQL).alias("m"))
    proj = F.expr(
        """transform(m, row -> aggregate(sequence(1, 64), CAST(0.0 AS DOUBLE),
           (acc, i) -> acc + element_at(row, i) * CAST(element_at(embedding, i) AS DOUBLE)))"""
    )
    p = emb.crossJoin(F.broadcast(mat)).select(
        "vec_id", "embedding", proj.alias("proj")
    )
    q = p.filter(F.col("vec_id") == 0).select(
        F.col("proj").alias("qp"), as_double_array(F.col("embedding")).alias("qe")
    )
    return (
        p.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            cosine_similarity_col(F.col("proj"), F.col("qp")).alias("proj_sim"),
            cosine_similarity_col(
                as_double_array(F.col("embedding")), F.col("qe")
            ).alias("cosine_sim"),
        )
        .orderBy(F.col("proj_sim").desc(), "vec_id")
        .limit(10)
    )


@register(
    "l3i_scalar_quantization",
    oracle=f"""
WITH x AS (
  SELECT vec_id,
         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xs
  FROM embeddings
), s AS (
  SELECT vec_id, xs,
         127.0 / list_max(list_transform(xs, v -> ABS(v))) AS scale
  FROM x
), q AS (
  SELECT vec_id, xs, scale,
         list_transform(xs, v -> GREATEST(-127.0, LEAST(127.0, FLOOR(v * scale + 0.5)))) AS qv
  FROM s
), d AS (
  SELECT vec_id, xs, scale, qv,
         list_transform(qv, v -> v / scale) AS deq
  FROM q
)
SELECT vec_id,
       CAST(len(list_filter(qv, v -> ABS(v) = 127.0)) AS INT) AS n_saturated,
       list_max(list_transform(generate_series(1, 64), i -> ABS(xs[i] - deq[i]))) AS max_abs_err,
       {cos_sql('xs', 'deq')} AS cosine_orig_deq
FROM d
""",
    tags=("L3", "F4", "L7"),
)
def l3i_scalar_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column —
    the storage/bandwidth lever every billion-vector ANN index pulls
    first (4× smaller vectors, SIMD int8 dot products): per vector,
    scale = 127/max|x|, q_i = floor(x_i·scale + 0.5) clamped to
    [-127, 127], plus the audit columns a quantization pass must
    report — saturation count, max reconstruction error (≤ 1/(2·scale)
    by construction), and the original↔dequantized cosine (>0.999
    here, the 'recall will survive' certificate). Everything is in-row
    array HOFs — a shuffle-free pure map over vector partitions at any
    scale. floor(x+0.5) is used instead of round() in BOTH engines:
    banker's-vs-half-up tie policies differ across engines, floor
    arithmetic is IEEE-identical — which is what lets a quantization
    (normally 'approximate') carry a full value-hash oracle."""
    emb = load(spark, sf_dir, "embeddings")
    xs = emb.select("vec_id", as_double_array(F.col("embedding")).alias("xs"))
    s = xs.withColumn(
        "scale", F.lit(127.0) / F.array_max(F.transform("xs", lambda v: F.abs(v)))
    )
    scale = F.col("scale")
    q = s.withColumn(
        "qv",
        F.transform(
            "xs",
            lambda v: F.greatest(
                F.lit(-127.0), F.least(F.lit(127.0), F.floor(v * scale + 0.5))
            ),
        ),
    )
    d = q.withColumn("deq", F.transform("qv", lambda v: v / scale))
    return d.select(
        "vec_id",
        F.size(F.filter("qv", lambda v: F.abs(v) == 127.0))
        .cast("int")
        .alias("n_saturated"),
        F.array_max(
            F.zip_with("xs", "deq", lambda a, b: F.abs(a - b))
        ).alias("max_abs_err"),
        cosine_similarity_col(F.col("xs"), F.col("deq")).alias("cosine_orig_deq"),
    )


# ---------------------------------------------------------------------------
# l3j — product quantization (X108)

#: PQ geometry: 64-d vectors split into M=4 subspaces of 16 dims, each
#: quantized to the nearest of K=8 codebook centroids → a 4-code
#: (12-bit) compressed representation, 21x smaller than float32.
_PQ_M, _PQ_K, _PQ_DSUB = 4, 8, 16


def _pq_centroid(m: int, k: int, j: int) -> float:
    """Deterministic codebook entry: +-0.5 by md5 parity of the
    (subspace, centroid, dim) coordinate — the same literal on any
    engine, any run (the repo's md5-as-RNG convention, cf. p5b/l4j).
    A production deployment would swap in k-means-trained centroids;
    every query shape below is unchanged by that swap."""
    import hashlib

    h = hashlib.md5(f"pq:{m}:{k}:{j}".encode()).hexdigest()
    return 0.5 if int(h[0], 16) % 2 == 0 else -0.5


def _pq_dlists(elem: str, listlit: str) -> str:
    """The four per-subspace distance-list columns (shared between
    assignment in l3j and the ADC query/code sides in l3k)."""
    cols = []
    for m in range(_PQ_M):
        dists = []
        for k in range(_PQ_K):
            terms = []
            for j in range(_PQ_DSUB):
                i = m * _PQ_DSUB + j + 1
                e = elem.format(i=i)
                c = repr(_pq_centroid(m, k, j))
                terms.append(f"(CAST({e} AS DOUBLE) - ({c}))*(CAST({e} AS DOUBLE) - ({c}))")
            dists.append("(" + " + ".join(terms) + ")")
        cols.append(listlit.format(items=", ".join(dists)) + f" AS d{m}")
    return ", ".join(cols)


def _pq_sql(elem: str, listlit: str, lmin: str, lpos: str) -> str:
    """One PQ assignment query, rendered for either SQL dialect.

    elem: element-access template ('element_at(embedding, {i})' /
    'embedding[{i}]'); listlit: list-literal template; lmin/lpos:
    min / first-position function names. All distance arithmetic is
    literal-explicit and left-associative, so both engines execute
    bit-identical IEEE operations; argmin ties resolve to the lowest
    centroid index because {lpos} returns the FIRST position of the
    exact minimum."""
    code_cols = ", ".join(
        f"{lpos}(d{m}, {lmin}(d{m})) - 1 AS c{m}" for m in range(_PQ_M)
    )
    err_sum = " + ".join(f"{lmin}(d{m})" for m in range(_PQ_M))
    return f"""
WITH d AS (
  SELECT vec_id, {_pq_dlists(elem, listlit)}
  FROM embeddings
)
SELECT vec_id, {code_cols}, ({err_sum}) AS sq_error
FROM d
"""


@register(
    "l3j_product_quantization",
    oracle=_pq_sql(
        elem="embedding[{i}]",
        listlit="[{items}]",
        lmin="list_min",
        lpos="list_position",
    ),
    tags=("L3", "L7", "F4"),
)
def l3j_product_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (Jegou et al., PAMI'11) — the
    memory-bound ANN workhorse beyond l3i's scalar quantization: each
    64-d vector splits into 4 subvectors, each assigned to its
    nearest of 8 codebook centroids, compressing the vector to 4
    small codes (12 bits vs 2 KB float32 — the difference between an
    index that fits executor RAM at 100 TB corpus scale and one that
    doesn't). Assignment is a pure map: per subspace, 8 literal-
    arithmetic squared distances (fixed fold order → bit-identical
    cross-engine), argmin by first-position-of-exact-min (ties →
    lowest code, deterministic). sq_error is the summed quantization
    residual — the audit column an index rollout is gated on (cf.
    l3i). Codebooks here are md5-parity literals so the oracle can
    replay them; swapping in k-means-trained centroids changes no
    query shape. ADC search then scans CODES with per-subspace
    lookup tables — the scan shape of l3f's IVF probe."""
    register_views(spark, sf_dir, ("embeddings",))
    return spark.sql(
        _pq_sql(
            elem="element_at(embedding, {i})",
            listlit="array({items})",
            lmin="array_min",
            lpos="array_position",
        )
    )




def _pq_adc_sql(elem: str, listlit: str, lmin: str, lpos: str, at: str) -> str:
    """ADC top-k search over PQ codes, rendered for either dialect.
    ``at`` is the list-index-by-expression template (1-based)."""
    dl = _pq_dlists(elem, listlit)
    pos_cols = ", ".join(f"{lpos}(d{m}, {lmin}(d{m})) AS p{m}" for m in range(_PQ_M))
    score = " + ".join(
        at.format(arr=f"q.d{m}", i=f"c.p{m}") for m in range(_PQ_M)
    )
    return f"""
WITH q AS (
  SELECT {dl} FROM embeddings WHERE vec_id = 0
), d AS (
  SELECT vec_id, {dl} FROM embeddings
), codes AS (
  SELECT vec_id, {pos_cols} FROM d
)
SELECT c.vec_id, ({score}) AS adc_distance
FROM codes c, q
WHERE c.vec_id <> 0
ORDER BY adc_distance, c.vec_id
LIMIT 20
"""


@register(
    "l3k_adc_search",
    oracle=_pq_adc_sql(
        elem="embedding[{i}]",
        listlit="[{items}]",
        lmin="list_min",
        lpos="list_position",
        at="{arr}[{i}]",
    ),
    tags=("L3", "L7", "O2"),
)
def l3k_adc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC (asymmetric distance computation) top-20 search over l3j's
    PQ codes — the query half of product quantization: the query
    vector computes ONE 4×8 lookup table of subspace distances; every
    database vector is then scored by four table lookups indexed by
    its codes and three additions, never by touching its floats. At
    100 TB this is why PQ wins: the scan reads 12-bit codes instead
    of 256-byte vectors and the per-vector cost is O(M) lookups; the
    lookup table rides along as a 1-row broadcast (the l3/l3g query-
    side convention — no driver collect). Codes and table come from
    the same literal arithmetic as l3j, ties break on vec_id, so the
    oracle replays the entire search bit-for-bit. Here codes are
    recomputed in-scan; a deployment reads them from the l3j-style
    materialized code table."""
    register_views(spark, sf_dir, ("embeddings",))
    return spark.sql(
        _pq_adc_sql(
            elem="element_at(embedding, {i})",
            listlit="array({items})",
            lmin="array_min",
            lpos="array_position",
            at="element_at({arr}, CAST({i} AS INT))",
        )
    )


#: Reciprocal-rank-fusion constant (Cormack, Clarke & Buettcher 2009:
#: k=60 in the original TREC runs) and per-leg candidate depth.
_RRF_K = 60
_RRF_DEPTH = 50


def _rrf_oracle() -> str:
    from big_data_programming_spark.queries.llm_text import bm25_scored_sql

    return f"""
WITH sparse AS (
  SELECT doc_id, r_sparse FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r_sparse
    FROM ({bm25_scored_sql()})
  ) WHERE r_sparse <= {_RRF_DEPTH}
), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
dense AS (
  SELECT vec_id, r_dense FROM (
    SELECT vec_id,
           ROW_NUMBER() OVER (ORDER BY cosine_sim DESC, vec_id) AS r_dense
    FROM (SELECT e.vec_id,
                 {cos_sql('e.embedding', 'q.qv')} AS cosine_sim
          FROM embeddings e CROSS JOIN q)
  ) WHERE r_dense <= {_RRF_DEPTH}
)
SELECT COALESCE(d.vec_id, s.doc_id) AS doc_id,
       CAST(COALESCE(d.r_dense, 0) AS BIGINT) AS dense_rank,
       CAST(COALESCE(s.r_sparse, 0) AS BIGINT) AS sparse_rank,
       COALESCE(CAST(1.0 AS DOUBLE) / ({_RRF_K} + d.r_dense), 0)
         + COALESCE(CAST(1.0 AS DOUBLE) / ({_RRF_K} + s.r_sparse), 0)
         AS rrf_score
FROM dense d FULL OUTER JOIN sparse s ON d.vec_id = s.doc_id
ORDER BY rrf_score DESC, doc_id
LIMIT 20
"""


@register(
    "l3m_hybrid_rrf_fusion",
    oracle=_rrf_oracle(),
    tags=("L3", "L4", "J2", "O2"),
)
def l3m_hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack et al.
    2009): fuse l4k's BM25 keyword ranking (the sparse leg, scored by
    llm_text.bm25_scored — the SAME relation l4k top-k's, so the legs
    are provably consistent) with l3's brute-force cosine ranking
    against query vector 0 (the dense leg), by summing 1/(60+rank)
    over the legs where each document appears. RRF is the standard
    zero-tuning fusion baseline — integer-rank arithmetic, so unlike
    score interpolation it needs no cross-leg calibration AND the
    whole query is oracle-exact: ranks are row_numbers with
    deterministic (score DESC, id) tie-breaks, and the fused score is
    two IEEE divisions of small-int sums added in fixed order.

    Plan shape: each leg is its existing scan (BM25: one in-row tf
    scan + 1-row stats broadcast; cosine: one scan + 1-row query
    broadcast) reduced to a {_RRF_DEPTH}-row top-k via
    TakeOrderedAndProject BEFORE ranking, so the rank window runs
    over {_RRF_DEPTH} rows, not the corpus (w8 discipline); the
    fusion itself is a full-outer join of two {_RRF_DEPTH}-row
    tables — negligible at any corpus size. Missing-leg ranks emit 0
    (never null) so the driver's dtype canon sees int64 on both
    engines."""
    from pyspark.sql import Window

    from big_data_programming_spark.queries.llm_text import bm25_scored

    sparse_top = (
        bm25_scored(spark, sf_dir)
        .select("doc_id", "score")
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(_RRF_DEPTH)
    )
    sparse = sparse_top.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), "doc_id"))
        .alias("r_sparse"),
    )
    emb = load(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(
        as_double_array(F.col("embedding")).alias("q")
    )
    dense_top = topk_cosine(emb, query, k=_RRF_DEPTH)
    dense = dense_top.select(
        "vec_id",
        F.row_number()
        .over(Window.orderBy(F.col("cosine_sim").desc(), "vec_id"))
        .alias("r_dense"),
    )
    fused = dense.join(sparse, dense["vec_id"] == sparse["doc_id"], "full_outer")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_dense")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_sparse")), F.lit(0.0))
    return (
        fused.select(
            F.coalesce(dense["vec_id"], sparse["doc_id"]).alias("doc_id"),
            F.coalesce(F.col("r_dense"), F.lit(0)).cast("bigint").alias("dense_rank"),
            F.coalesce(F.col("r_sparse"), F.lit(0)).cast("bigint").alias("sparse_rank"),
            rrf.alias("rrf_score"),
        )
        .orderBy(F.col("rrf_score").desc(), "doc_id")
        .limit(20)
    )


#: nprobe sweep for the IVF recall audit — the cost/recall curve an
#: ANN deployment tunes before fixing its probe budget.
_IVF_AUDIT_NPROBES = (1, 2, 4, 8)


@register(
    "l3o_ivf_recall_audit",
    oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
flat AS (
  SELECT label, g.pos AS pos, CAST(embedding[g.pos] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS pos) g
), cent AS (
  SELECT label, pos,
         {davg_sql('x')} AS cx
  FROM flat GROUP BY label, pos
), cvec AS (
  SELECT label, list(cx ORDER BY pos) AS centroid
  FROM cent GROUP BY label
), ranked AS (
  SELECT c.label,
         ROW_NUMBER() OVER (
           ORDER BY {cos_sql('c.centroid', 'q.qv')} DESC, c.label
         ) AS rl
  FROM cvec c CROSS JOIN q
), sims AS (
  SELECT e.vec_id, r.rl,
         {cos_sql('e.embedding', 'q.qv')} AS csim
  FROM embeddings e JOIN ranked r USING (label) CROSS JOIN q
), truth AS (
  SELECT vec_id FROM sims ORDER BY csim DESC, vec_id LIMIT 10
), np AS (
  SELECT UNNEST([{", ".join(str(n) for n in _IVF_AUDIT_NPROBES)}]) AS nprobe
), rk AS (
  SELECT np.nprobe, s.vec_id,
         ROW_NUMBER() OVER (PARTITION BY np.nprobe
                            ORDER BY s.csim DESC, s.vec_id) AS rn
  FROM sims s JOIN np ON s.rl <= np.nprobe
)
SELECT nprobe,
       CAST(COUNT(*) AS BIGINT) AS n_scanned,
       CAST(SUM(CASE WHEN rn <= 10
                      AND vec_id IN (SELECT vec_id FROM truth)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
       CAST(SUM(CASE WHEN rn <= 10
                      AND vec_id IN (SELECT vec_id FROM truth)
                     THEN 1 ELSE 0 END) AS DOUBLE) / 10 AS recall_at_10
FROM rk GROUP BY nprobe
""",
    tags=("L3", "L7", "A1", "W6"),
)
def l3o_ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN measurement loop, closed (l2n's sibling for similarity
    search): recall@10 and candidate-scan cost of the IVF probe at
    nprobe in {1, 2, 4, 8}, measured against the brute-force top-10 —
    the cost/recall curve a deployment tunes before fixing its probe
    budget. Uses l3f's deterministic fixed-grid quantizer (decimal-
    exact per-label centroids) so the whole audit carries a value-hash
    oracle; l3e's seeded-KMeans build has the identical probe plan.

    Plan shape: centroids rank against the query ONCE (|labels|-row
    window); the scored relation (each vector's cosine plus its
    list's probe rank — a pure map over the scan) feeds the truth
    top-10 (TakeOrdered) and the candidate sweep, so it expands twice
    — two map-only corpus passes, acceptable for an audit run rarely
    (persist the scored relation to make it one, the l2m lever). The
    nprobe sweep attaches as a 4-row broadcast dimension, the
    per-nprobe top-10 window partitions by nprobe over PROBED
    candidates only, and ONE grouped aggregate emits scan cost,
    overlap, and recall — the candidate relation itself is never
    re-expanded (the lm7 lesson). At production scale the per-nprobe
    window takes the knn_join salt split; here candidates are
    list-bounded."""
    from pyspark.sql import Window

    emb = load(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(
        as_double_array(F.col("embedding")).alias("q")
    )
    ranked = (
        label_centroids(emb)
        .crossJoin(F.broadcast(query))
        .select(
            "label",
            cosine_similarity_col(F.col("centroid"), F.col("q")).alias("csim"),
        )
        .select(
            "label",
            F.row_number()
            .over(Window.orderBy(F.col("csim").desc(), "label"))
            .alias("rl"),
        )
    )
    sims = (
        emb.join(F.broadcast(ranked), "label")
        .crossJoin(F.broadcast(query))
        .select(
            "vec_id",
            "rl",
            cosine_similarity_col(
                as_double_array(F.col("embedding")), F.col("q")
            ).alias("csim"),
        )
    )
    truth = (
        sims.orderBy(F.col("csim").desc(), "vec_id")
        .limit(10)
        .select("vec_id", F.lit(True).alias("_t"))
    )
    np_dim = spark.createDataFrame(
        [(n,) for n in _IVF_AUDIT_NPROBES], "nprobe int"
    )
    cand = sims.crossJoin(F.broadcast(np_dim)).filter(
        F.col("rl") <= F.col("nprobe")
    )
    w = Window.partitionBy("nprobe").orderBy(F.col("csim").desc(), "vec_id")
    hit = F.when((F.col("rn") <= 10) & F.col("_t"), 1).otherwise(0)
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .join(F.broadcast(truth), "vec_id", "left")
        .groupBy("nprobe")
        .agg(
            F.count(F.lit(1)).alias("n_scanned"),
            F.sum(hit).cast("bigint").alias("n_overlap"),
            (F.sum(hit).cast("double") / 10).alias("recall_at_10"),
        )
    )
