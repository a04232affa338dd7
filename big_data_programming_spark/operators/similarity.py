"""Vector similarity search (SURVEY.md §2.11 L3).

Cosine is computed with built-in array HOFs (zip_with + left-fold
aggregate) in double precision — JVM codegen, deterministic evaluation
order, no Python crossing. The same fold order (left-to-right) is what
DuckDB's list_reduce uses, so results are bit-identical cross-engine.

Scale path: brute-force top-k is a single map + TakeOrderedAndProject
(fine for one query vector over any corpus size); for query *sets* the
sign-LSH bucket join (lsh_sign_bucket) turns it into an equi-join that
only compares same-bucket candidates — IVF-style pruning without an
index structure.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from big_data_programming_spark.functions.canonical import davg


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_similarity_col(a: Column, b: Column) -> Column:
    """cos(a, b) over two array<double> columns."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def as_double_array(c: Column) -> Column:
    """Exact float→double widening so arithmetic happens in f64."""
    return F.transform(c, lambda x: x.cast("double"))


def topk_cosine(
    vectors: DataFrame,
    query: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force top-k cosine neighbors of a single query vector.

    ``query`` is a 1-row DataFrame holding ``q`` (array<double>); it is
    broadcast, so the corpus is scanned exactly once with no shuffle —
    the top-k itself is TakeOrderedAndProject (per-partition heaps)."""
    joined = vectors.crossJoin(F.broadcast(query))
    sims = joined.select(
        F.col(id_col),
        cosine_similarity_col(as_double_array(F.col(vec_col)), F.col("q")).alias("cosine_sim"),
    )
    return sims.orderBy(F.col("cosine_sim").desc(), F.col(id_col)).limit(k)


def lsh_sign_bucket(vec: Column, n_planes: int = 8) -> Column:
    """Sign-LSH bucket id: the concatenated signs of the first
    ``n_planes`` coordinates (axis-aligned hyperplanes — deterministic
    and oracle-portable, unlike random projections). Vectors in the
    same orthant are cosine-close candidates."""
    return F.concat_ws(
        "",
        F.transform(
            F.slice(vec, 1, n_planes),
            lambda x: F.when(x >= 0, F.lit("1")).otherwise(F.lit("0")),
        ),
    )


def bucketed_near_pairs(
    vectors: DataFrame,
    threshold: float | None,
    n_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding near-duplicate pairs: equi-join on the sign-LSH bucket,
    then exact cosine on the (few) same-bucket candidates. The bucket
    join bounds the candidate set to ~n²/2^planes instead of n² — the
    scale path for pairwise similarity. ``threshold=None`` keeps ALL
    candidate pairs (the l2o profiling path) with no filter at all —
    structurally identical to a filter-free oracle, where a ``>= -1``
    sentinel could diverge on float-error sub- -1 cosines or NaN."""
    b = vectors.select(
        F.col(id_col),
        as_double_array(F.col(vec_col)).alias("v"),
        lsh_sign_bucket(F.col(vec_col), n_planes).alias("bucket"),
    )
    l, r = b.alias("l"), b.alias("r")
    pairs = l.join(
        r, (F.col("l.bucket") == F.col("r.bucket")) & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
    )
    out = pairs.select(
        F.col(f"l.{id_col}").alias("vec_a"),
        F.col(f"r.{id_col}").alias("vec_b"),
        cosine_similarity_col(F.col("l.v"), F.col("r.v")).alias("cosine_sim"),
    )
    if threshold is None:
        return out
    return out.filter(F.col("cosine_sim") >= threshold)


def label_centroids(
    vectors: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label element-wise mean vector as posexplode → hash agg →
    re-assemble. The per-coordinate sum runs in decimal(38,10) (the
    decimal canon, functions/canonical.py): exact and order-free, so
    the centroid doubles — and every cosine computed from them — are
    bit-identical at any partition count and portable to a SQL oracle.

    Scale path: the shuffle is on (label, pos) — n_labels × dim cells
    regardless of corpus size, with map-side partial aggregation doing
    the heavy lifting; the result is index *metadata* (n_labels rows),
    broadcastable to any consumer."""
    flat = vectors.select(
        label_col, F.posexplode(as_double_array(F.col(vec_col))).alias("pos", "x")
    )
    return (
        flat.groupBy(label_col, "pos")
        .agg(
            davg("x").alias("cx")
        )
        .groupBy(label_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cx"))), lambda s: s.cx
            ).alias("centroid")
        )
    )


def ivf_build(
    vectors: DataFrame,
    n_lists: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """IVF index build: k-means coarse quantizer (spark.ml, seeded) +
    every vector assigned to its nearest centroid's inverted list.

    Returns ``(assigned, centers)``: the corpus with a ``list_id``
    column, and the k centroid vectors (a python list — index
    *metadata*, k × dim floats, legitimately driver-sized; the corpus
    itself never leaves executors). At 100 TB the build is one ml
    fit over a sample plus one transform pass; the assigned table is
    what gets written out, partitioned by list_id, so probes prune
    partitions."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = vectors.withColumn("_fv", array_to_vector(as_double_array(F.col(vec_col))))
    model = KMeans(k=n_lists, seed=42, featuresCol="_fv", predictionCol="list_id").fit(feat)
    assigned = model.transform(feat).drop("_fv")
    centers = [c.tolist() for c in model.clusterCenters()]
    return assigned, centers


def ivf_topk(
    assigned: DataFrame,
    centers: list,
    query: DataFrame | list,
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF probe: rank centroids by cosine to the query, scan only the
    ``nprobe`` nearest inverted lists, exact top-k within them.

    ``query`` is a 1-row DataFrame with column ``q array<double>`` (a
    plain Python list is also accepted for ad-hoc use). The whole probe
    is JVM-side: centroids (k × dim floats of index metadata) become a
    tiny DataFrame, the query row never round-trips through the driver,
    and the candidate restriction is a broadcast join on ``list_id`` —
    at scale, with the assigned table written partitioned by list_id,
    that broadcast join drives dynamic partition pruning, so non-probed
    lists are never read. ``nprobe = n_lists`` degrades gracefully to
    exact brute force; smaller nprobe trades recall for scanning
    ~nprobe/n_lists of the corpus."""
    spark = assigned.sparkSession
    qdf = query if isinstance(query, DataFrame) else spark.createDataFrame([(query,)], "q array<double>")
    centers_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
        "list_id int, c array<double>",
    )
    probe = (
        centers_df.crossJoin(F.broadcast(qdf))
        .select("list_id", cosine_similarity_col(F.col("c"), F.col("q")).alias("_sim"))
        .orderBy(F.col("_sim").desc(), "list_id")
        .limit(nprobe)
        .select("list_id")
    )
    cand = assigned.join(F.broadcast(probe), "list_id")
    return topk_cosine(cand, qdf, k=k, vec_col=vec_col, id_col=id_col)


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_salt: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact k-NN join: top-k cosine neighbors in ``corpus`` for EVERY
    row of ``queries`` (columns ``query_id``, ``q`` array<double>).

    ``queries`` is broadcast (the batch-of-queries ANN shape: small
    query set, huge corpus), so candidate generation is a map-only
    corpus scan. The per-query top-k then runs in two stages: stage 1
    takes top-k within (query_id, salt) — ``n_salt`` sub-keys per
    query, so the shuffle spreads over query×salt keys instead of
    hot-keying a handful of query_ids — stage 2 reduces the q·salt·k
    survivors (tiny) to the exact global top-k. Exact because any
    global top-k row is necessarily top-k within its own salt."""
    from pyspark.sql import Window

    sim = cosine_similarity_col(
        as_double_array(F.col(vec_col)), F.col("q")
    ).alias("cosine_sim")
    pairs = (
        corpus.join(F.broadcast(queries), F.col(id_col) != F.col("query_id"))
        .select("query_id", id_col, sim)
        .withColumn("_salt", F.pmod(F.hash(F.col(id_col)), F.lit(n_salt)))
    )
    order = [F.col("cosine_sim").desc(), F.col(id_col)]
    w1 = Window.partitionBy("query_id", "_salt").orderBy(*order)
    w2 = Window.partitionBy("query_id").orderBy(*order)
    return (
        pairs.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= k)
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cosine_sim", "rank")
    )


def collect_vector_array(
    vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "v"
) -> DataFrame:
    """Collapse (id, vector) rows into ONE row holding the id-sorted
    (eid, c) struct array — the broadcastable scan side of the in-row
    max-cosine discipline (l4t / l5g; l2m's seed path is the k-limited
    sibling). ONE definition so the standalone gate and the capstone
    verdict stay provably identical (r5 review finding)."""
    return vectors.agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col(id_col).alias("eid"), F.col(vec_col).alias("c"))
            )
        ).alias("evals")
    )


def semdedup(
    vectors: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.35,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    materialize: bool = True,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster the
    embedding space, compare pairs only WITHIN a cluster, and inside
    every group of cosine-near duplicates keep the example FARTHEST
    from its cluster centroid (the paper's keep rule — boundary
    examples carry more training signal than prototypical ones).

    Clustering here assigns each vector to its nearest of
    ``n_clusters`` fixed seed centroids (the ``n_clusters`` vectors
    with the smallest ids — deterministic and oracle-replayable). In
    production the centroids come from an offline k-means fit exactly
    like ivf_build's; the seeds stand in so the oracle replays the
    assignment bit-for-bit, and the PLAN SHAPE — broadcast centroid
    table, map-side assignment, within-cluster pairs — is identical
    regardless of where the centroids came from.

    Plan shape, stage by stage:
    - the centroid set collapses to ONE row holding an array of
      (cid, vector) structs, broadcast to every task; assignment is
      an IN-ROW argmax (array_max over per-centroid cosine structs,
      tie broken toward the smaller cid) — a pure map, NO n×k row
      blowup and no shuffle, which is what keeps the step linear when
      production k reaches the paper's tens of thousands;
    - candidate pairs self-equi-join on the cluster id, so the
      comparison count is sum of squares of CLUSTER sizes, never
      corpus²; the quadratic-in-cluster cost is SemDeDup's documented
      trade, controlled by k (bigger k → smaller clusters);
    - a vector x is dropped iff some same-cluster y with
      cosine(x, y) >= threshold BEATS it — y sits closer to the
      centroid (higher rounded cos-to-centroid; tie toward the
      smaller id). The minimal element of every near-dup group beats
      all its neighbors, so exactly the per-group survivor the greedy
      rule keeps is kept; the drop set is bounded by the duplicate
      count and broadcasts back as an anti-probe.

    Materialization (the lm7 lesson, fixed in r6): the assignment
    table is referenced three times — both pair sides plus the
    keep-flag probe — and a self-join inherently re-expands unreused
    lineage, so an UNMATERIALIZED run would assign the corpus three
    times. ``materialize=True`` (the default, and what the registered
    query uses) persists the assignment table at exactly the point a
    production SemDeDup pipeline writes it out between the cluster
    and dedup stages, so the corpus is assigned ONCE and the two pair
    sides plus the probe all read the cached (spill-safe
    MEMORY_AND_DISK) copy. ``materialize=False`` exposes the raw
    lineage for the plan-hygiene tests that pin the in-row-argmax
    shape of the assignment itself; tiny-input unit/property tests
    also pass False (no point pinning 5-row caches). Lifetime note:
    the cached table has no in-function release point (the return is
    lazy — an eager unpersist would recompute the 3x lineage this
    flag exists to avoid), so each materialized call pins one
    assignment-sized cache entry until session end or an explicit
    ``spark.catalog.clearCache()``; a production pipeline writes the
    assignment table to storage between stages instead, which is the
    durable form of the same materialization.

    Output: ``(id, cluster_id, cos_centroid, is_kept)``, one row per
    input vector; ``cos_centroid`` rounded to 8 dp (the comparison
    canon both engines apply to the same bit-identical double)."""
    emb = vectors.select(
        F.col(id_col), as_double_array(F.col(vec_col)).alias("v")
    )
    seeds = (
        emb.orderBy(id_col)
        .limit(n_clusters)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col(id_col).alias("sid"), F.col("v").alias("c")))
            ).alias("cents")
        )
    )
    best = F.array_max(
        F.zip_with(
            F.col("cents"),
            F.sequence(F.lit(1), F.size("cents")),
            lambda s, i: F.struct(
                cosine_similarity_col(F.col("v"), s.getField("c")).alias("cos"),
                (-i).cast("int").alias("negcid"),
            ),
        )
    )
    asg = (
        emb.crossJoin(F.broadcast(seeds))
        .select(id_col, "v", best.alias("best"))
        .select(
            id_col,
            "v",
            (-F.col("best").getField("negcid")).cast("int").alias("cluster_id"),
            F.round(F.col("best").getField("cos"), 8).alias("cos_centroid"),
        )
    )
    if materialize:
        from pyspark import StorageLevel

        asg = asg.persist(StorageLevel.MEMORY_AND_DISK)
    a = asg.select(
        F.col(id_col).alias("_ida"),
        F.col("cluster_id"),
        F.col("cos_centroid").alias("_ca"),
        F.col("v").alias("_va"),
    )
    b = asg.select(
        F.col(id_col).alias("_idb"),
        F.col("cluster_id"),
        F.col("cos_centroid").alias("_cb"),
        F.col("v").alias("_vb"),
    )
    close = (
        a.join(b, "cluster_id")
        .filter(F.col("_ida") < F.col("_idb"))
        .filter(cosine_similarity_col(F.col("_va"), F.col("_vb")) >= threshold)
    )
    loser = (
        F.when(F.col("_ca") > F.col("_cb"), F.col("_ida"))
        .when(F.col("_cb") > F.col("_ca"), F.col("_idb"))
        .otherwise(F.greatest("_ida", "_idb"))
    )
    drops = close.select(loser.alias("_drop_id")).distinct()
    return (
        asg.join(
            F.broadcast(drops), asg[id_col] == F.col("_drop_id"), "left"
        )
        .select(
            id_col,
            "cluster_id",
            "cos_centroid",
            F.col("_drop_id").isNull().alias("is_kept"),
        )
    )
