"""Graph analytics queries (SURVEY.md §2.12 X36/X37) — thin wrappers
over operators/graph.py.

Two graphs from the fixtures: the document near-duplicate similarity
graph (the structure every dedup pipeline builds anyway — l2d/l2d2
cluster it, g1 measures its local density) and the supplier→customer
fulfillment graph (a directed bipartite provenance graph — g2's
PageRank is the canonical importance/quality weighting, as used for
web-crawl source scoring in training-data curation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_programming_spark.operators.dedup import jaccard_pairs, overlap_oracle_sql, tokens_sql
from big_data_programming_spark.operators.graph import (
    TRIANGLES_ORACLE_SQL,
    cut,
    kcore_peel,
    label_propagation,
    label_propagation_oracle_sql,
    pagerank,
    pagerank_oracle_sql,
    triangle_counts,
)
from big_data_programming_spark.registry import register
from big_data_programming_spark.sources.loaders import load

_NEARDUP_EDGES_SQL = (
    "SELECT doc_a, doc_b FROM (" + overlap_oracle_sql(tokens_sql(), 0.8) + ")"
)

_FULFILL_EDGES_SQL = """
SELECT DISTINCT 's' || CAST(l.l_suppkey AS VARCHAR) AS src,
                'c' || CAST(o.o_custkey AS VARCHAR) AS dst
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
"""


@register(
    "g1_triangle_counts",
    oracle=TRIANGLES_ORACLE_SQL.format(
        edges_sql=_NEARDUP_EDGES_SQL, src="doc_a", dst="doc_b"
    ),
    tags=("L2", "J1", "J9", "A1"),
)
def g1_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the J≥0.8 near-dup graph — local
    density: a doc in many triangles sits in a tight duplicate clique
    (transcoded boilerplate), one in few is a chain artifact.
    DEGREE-oriented wedge join + broadcast closing probe + in-row role
    explode (operators/graph.py:triangle_counts): orientation bounds
    wedge fan-out to O(m^1.5) under power-law skew and the broadcast
    keeps the wedge stream off every exchange — the r10 fix for the
    measured r9 straggler (id-ordering spent >20 min in one task at
    sf0.1 on this graph's hottest node; the fixed plan runs 245 s with
    even tasks). Triangle sets are orientation-invariant, so the
    oracle keeps the id-ordered 3-way join — hash-exact at sf0.01,
    single-box infeasible at sf0.1 (measured; see the tier note in
    operators/graph.py and drive_driver.py)."""
    pairs = jaccard_pairs(load(spark, sf_dir, "documents"), threshold=0.8)
    return triangle_counts(pairs, src="doc_a", dst="doc_b")


_BFS_SQL = """
WITH RECURSIVE walk(doc, dist) AS (
  SELECT (SELECT MIN(doc_a) FROM {edges}) AS doc, 0 AS dist
  UNION ALL
  SELECT DISTINCT n.dst AS doc, w.dist + 1 AS dist
  FROM walk w
  JOIN (SELECT doc_a AS src, doc_b AS dst FROM {edges}
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM {edges}) n
    ON w.doc = n.src
  WHERE w.dist < 3
)
SELECT doc, CAST(MIN(dist) AS INT) AS hops
FROM walk
GROUP BY doc
"""


@register(
    "g3_recursive_bfs",
    oracle=_BFS_SQL.format(edges="(" + _NEARDUP_EDGES_SQL + ")"),
    tags=("S5", "J1", "A1", "L2"),
)
def g3_recursive_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded BFS via a SQL-standard recursive CTE (Spark 4): every
    doc within ≤3 hops of the lowest-id doc in the J≥0.8 near-dup
    graph, with its hop distance — 'how far does this duplicate
    cluster bleed' as one declarative query. Each recursion step is an
    equi-join of the frontier against the (undirected) edge list plus
    a union — hash-partitionable at any scale; the depth bound makes
    total work ≤ depth × |edges| exchanges. The recursive member is
    SELECT DISTINCT, capping each level's frontier at |V| rows (bare
    UNION ALL derives one row per PATH — exponential on the dense
    near-dup cliques; it tripped Spark's 1M-row recursion guard on
    this very fixture). Nodes re-entered at a later level still emit
    rows and MIN(dist) canonicalizes them — the duplicate-tolerant
    formulation both engines execute identically
    (production BFS over an unbounded diameter belongs to the
    iterative operators: operators/clustering.py cuts lineage per
    round, which a single recursive plan cannot).

    The pair relation is cut (operators/graph.py:cut) before entering
    the SQL: ``{edges}`` appears THREE times in the CTE (the seed MIN, both
    arms of the undirected union) and the undirected arm re-executes
    once per recursion level, so an un-cut relation re-runs the full
    jaccard inverted-index pipeline 5+ times — the exact mistake g1's
    r10 rewrite fixed one file over (operators/graph.py e0 cut), and
    the dominant share of g3's 545 s r10 sf0.1 spot-run."""
    pairs, _ = cut(
        jaccard_pairs(load(spark, sf_dir, "documents"), threshold=0.8).select("doc_a", "doc_b")
    )
    return spark.sql(_BFS_SQL.format(edges="{edges}"), edges=pairs)


@register(
    "g2_pagerank",
    oracle=pagerank_oracle_sql(_FULFILL_EDGES_SQL, iterations=8, damping=0.85),
    tags=("J1", "A1", "L7"),
)
def g2_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-iteration PageRank over the supplier→customer fulfillment
    graph. One join + one aggregate per round, lineage cut per round
    (operators/graph.py:pagerank); contribution sums ride the
    decimal canon, so all 8 iterations of doubles are bit-identical
    to the oracle's unrolled CTE at any partition count."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    return pagerank(edges, iterations=8, damping=0.85)


def _kcore_oracle_sql(k: int, rounds: int) -> str:
    """Unrolled k-core peeling: round i keeps nodes whose degree in
    the subgraph induced by round i-1's survivors is >= k. The unroll
    depth must reach the fixpoint (the Spark side iterates until NO
    node is dropped and asserts it; peeling on the dense fixture
    graph converges in 1-2 rounds, and tests pin convergence <= the
    unroll depth)."""
    parts = [
        "WITH edges AS MATERIALIZED (" + _NEARDUP_EDGES_SQL + "), deg0 AS ("
        "  SELECT node, COUNT(*) AS degree FROM ("
        "    SELECT doc_a AS node, doc_b AS other FROM edges"
        "    UNION ALL SELECT doc_b, doc_a FROM edges) GROUP BY 1)"
    ]
    prev = "deg0"
    for i in range(1, rounds + 1):
        parts.append(
            f", keep{i} AS MATERIALIZED (SELECT node FROM {prev} WHERE degree >= {k})"
            f", deg{i} AS ("
            f"  SELECT node, COUNT(*) AS degree FROM ("
            f"    SELECT e.doc_a AS node, e.doc_b AS other FROM edges e"
            f"    JOIN keep{i} a ON a.node = e.doc_a JOIN keep{i} b ON b.node = e.doc_b"
            f"    UNION ALL"
            f"    SELECT e.doc_b, e.doc_a FROM edges e"
            f"    JOIN keep{i} a ON a.node = e.doc_a JOIN keep{i} b ON b.node = e.doc_b"
            f"  ) GROUP BY 1)"
        )
        prev = f"deg{i}"
    parts.append(f"SELECT node AS doc_id, degree AS core_degree FROM {prev} WHERE degree >= {k}")
    return "\n".join(parts)


@register(
    "g4_kcore",
    oracle=_kcore_oracle_sql(k=3, rounds=6),
    tags=("L2", "J1", "A1", "L7"),
)
def g4_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=3) of the near-dup graph: iteratively
    peel nodes with degree < k until the remaining induced subgraph is
    stable — the density filter that separates tight duplicate
    cliques (template farms, mirror sets) from incidental pairwise
    matches, and the standard preprocessing cut before community
    detection. Each round is one degree aggregate + two semi-joins of
    the edge list against survivors, one ``fixpoint`` round each
    (the l2d/g2 iterative discipline); rounds are
    bounded by peeling depth, not diameter. The Spark side iterates
    to a TRUE fixpoint; the oracle unrolls six rounds, and
    tests/test_operators.py::test_kcore_converges_within_oracle_unroll
    asserts the fixpoint lands within that unroll on the live
    fixture."""
    edges = jaccard_pairs(load(spark, sf_dir, "documents"), threshold=0.8).select(
        "doc_a", "doc_b"
    )
    result, _rounds = kcore_peel(edges, k=3)
    return result


@register(
    "g5_label_propagation",
    oracle=(
        "SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_docs FROM ("
        + label_propagation_oracle_sql(
            "SELECT doc_a AS src, doc_b AS dst FROM (" + _NEARDUP_EDGES_SQL + ")"
        )
        + ") GROUP BY label"
    ),
    tags=("L2", "J1", "A1", "W1"),
)
def g5_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the near-dup graph by synchronous label
    propagation (4 rounds, mode-vote with deterministic tie-break):
    where l2d's min-label propagation finds CONNECTED components, the
    mode vote respects density — a single spurious near-dup edge
    bridging two dense duplicate cliques does not merge their
    communities, which is the failure mode that over-merges dedup
    clusters and deletes non-duplicates at corpus scale. Output is the
    community size profile.

    Scale: per round one node-keyed join + two map-side-combined
    aggregates over the edge list; fixed rounds (LPA converges in a
    few rounds on clique-like dedup graphs), lineage cut per round.
    The unrolled-CTE oracle replays the identical mode (max count,
    then min label among maxima — exact for any label domain).

    CONSTRUCTION EXECUTES (r9 advice): the undirected edge list is cut
    (operators/graph.py:cut), so BUILDING this DataFrame runs the
    jaccard_pairs join's shuffle stages; scan audits of this query and
    of every other query that cuts must use
    executed_parquet_scan_count_during."""
    docs = load(spark, sf_dir, "documents")
    edges = jaccard_pairs(docs, threshold=0.8).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    labels = label_propagation(edges)
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
