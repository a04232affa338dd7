"""Connected-components clustering over similarity pairs (the step
after candidate generation in a production dedup pipeline: near-dup
PAIRS → duplicate CLUSTERS → one kept doc per cluster).

Algorithm: iterative min-label propagation. Every node starts labeled
with its own id; each round, every node adopts the minimum label in
its neighborhood (via a join along edges); converged when no label
changes. Rounds needed ≈ graph diameter ≤ O(log n) for the
small-world-ish similarity graphs dedup produces.

100 TB posture: each round is one equi-join (edges ⋈ labels, shuffled
on node id) + one min-aggregate — no driver-side graph, state is one
(node, label) row per node. Both operators are step functions run by
operators/graph.py's ``fixpoint``, which cuts every round's lineage
and reads the round's changed-row count off that same cut job — the
loop's only driver traffic is that scalar.

The exact twin is a recursive CTE in DuckDB (see
CLUSTERS_ORACLE_SQL), so even this iterative operator is
oracle-checkable — not rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_data_programming_spark.operators.graph import cut, fixpoint


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Min-label propagation over an undirected edge list.

    Returns (node, component) where component = min node id reachable.
    Deterministic: min() is order-free.
    """
    sym, _ = cut(
        # every propagation round joins sym; without the cut each
        # round would re-execute the (expensive) upstream
        # pair-generation pipeline that produced the edges
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionAll(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
    )

    def propagate(labels: DataFrame) -> DataFrame:
        # neighbor labels: for each node u, the min label of all v adjacent
        neighbor = (
            sym.join(labels.select(F.col("node").alias("v"), "component"), "v")
            .groupBy("u")
            .agg(F.min("component").alias("nbr_min"))
        )
        return labels.join(neighbor, labels.node == neighbor.u, "left").select(
            "node",
            F.least(
                F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
            ).alias("component"),
            (F.col("nbr_min") < F.col("component")).alias("moved"),
        )

    labels = sym.select(F.col("u").alias("node")).distinct().withColumn("component", F.col("node"))
    labels, _ = fixpoint(labels, propagate, max_iterations, changed=F.col("moved"))
    return labels.select("node", "component")


def dedup_clusters(pairs: DataFrame) -> DataFrame:
    """Near-dup pairs → per-cluster summary: canonical (min) doc id,
    cluster size. Singleton docs (no near-dup) are not rows here —
    production keeps them implicitly."""
    comp = connected_components(pairs)
    return comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.min("node").alias("keep_doc_id"),
    )


#: DuckDB twin: recursive CTE reachability to the minimum-id node.
#: {pairs_sql} must select columns (doc_a, doc_b).
CLUSTERS_ORACLE_SQL = """
WITH RECURSIVE pairs AS ({pairs_sql}),
sym(u, v) AS (
  SELECT doc_a, doc_b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(node, lbl) AS (
  SELECT u, u FROM sym
  UNION
  SELECT s.u, r.lbl
  FROM sym s JOIN reach r ON r.node = s.v
),
comp AS (
  SELECT node, MIN(lbl) AS component FROM reach GROUP BY node
)
SELECT component,
       COUNT(*) AS cluster_size,
       MIN(node) AS keep_doc_id
FROM comp
GROUP BY component
"""


def _canon_edges(df: DataFrame) -> DataFrame:
    """Undirected edge set in canonical (hi, lo) orientation, no
    self-loops, distinct."""
    return (
        df.select(
            F.greatest(F.col("u"), F.col("v")).alias("u"),
            F.least(F.col("u"), F.col("v")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components_two_phase(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Large-star/small-star connected components (the alternating
    algorithm of Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC'14 — public literature).

    Same contract as :func:`connected_components` — (node, component),
    component = min reachable id — but rounds CONTRACT the graph
    instead of propagating labels over a fixed edge list:

    - large-star: every node attaches its larger neighbors directly to
      the minimum of its neighborhood (long chains collapse
      geometrically);
    - small-star: every node re-points its smaller neighbors (and
      itself) at that minimum, deduplicating the multi-edges
      large-star creates.

    Each phase is one shuffle aggregate (per-node min) plus one
    equi-join back to the edges. Why it matters at 100 TB: label
    propagation does diameter-many rounds over the ORIGINAL edge list
    — every round shuffles every edge forever; star rounds shrink the
    edge set toward one edge per non-root node and converge in
    O(log n) rounds on high-diameter graphs, so later rounds shuffle a
    fraction of the data. On dedup similarity graphs (small diameter)
    both converge fast; this variant is the insurance for the
    pathological chain-shaped components real corpora occasionally
    contain. A round changed nothing when its edge set equals the
    previous one: each step groups its new edges (``live`` = 1) with
    the previous ones, so an edge seen once was added or dropped.
    """
    def contract(state: DataFrame) -> DataFrame:
        e = state.filter(F.col("live") == 1).select("u", "v")
        # large-star: group over BOTH orientations; m = min(Γ(u) ∪ {u});
        # larger neighbors v > u re-attach as (v, m).
        sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
        large = _canon_edges(
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.least(F.col("u"), F.col("mv")).alias("v"))
        )
        # small-star: edges already (hi, lo); m = min of smaller
        # neighborhood; every member (incl. the center) points at m.
        smins = large.groupBy("u").agg(F.min("v").alias("m"))
        j = large.join(smins, "u")
        small = _canon_edges(
            j.select(F.col("v").alias("u"), F.col("m").alias("v")).unionAll(
                j.select("u", F.col("m").alias("v"))
            )
        )
        return (
            small.withColumn("live", F.lit(1))
            .unionAll(e.withColumn("live", F.lit(0)))
            .groupBy("u", "v")
            .agg(F.max("live").alias("live"), F.count(F.lit(1)).alias("seen"))
        )

    e = _canon_edges(edges.select(F.col(src).alias("u"), F.col(dst).alias("v")))
    e, _ = cut(e.withColumn("live", F.lit(1)))
    e, _ = fixpoint(e, contract, max_iterations, changed=F.col("seen") == 1)
    e = e.filter(F.col("live") == 1)
    # converged: e is a star forest (child, root). Roots label themselves.
    return (
        e.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .unionAll(e.select(F.col("v").alias("node"), F.col("v").alias("component")))
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )
