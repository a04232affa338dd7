"""Distributed graph analytics on DataFrames (SURVEY.md §2.12 X36/X37).

Training-data pipelines meet graphs twice: the near-duplicate
similarity graph (clusters, density/triangles) and provenance/link
graphs used for source-quality weighting (PageRank is the canonical
web-crawl importance score). Both operators here are pure DataFrame
compositions — equi-joins and hash aggregates only, no driver-side
graph object, no library dependency — so they inherit Spark's
partitioning/AQE behavior and scale like any other join pipeline.

Iteration: :func:`cut` is the package's one lineage cut and
:func:`fixpoint` its one round loop, which runs the step function of
every iterative operator (CC in operators/clustering.py, PageRank,
k-core, label propagation, l4m3's BPE training).

Determinism across engines: per-node double sums go through the
decimal canon (``dsum``, functions/canonical.py) so every PageRank
iteration is bit-identical to the DuckDB oracle's unrolled-CTE replay
at any partition count.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from big_data_programming_spark.functions.canonical import dsum, dsum_sql


def cut(df: DataFrame, **metrics: Column) -> tuple[DataFrame, dict[str, Any]]:
    """Cut ``df``'s lineage: later consumers (each round of a loop, each
    alias of a self-join) read its materialized rows instead of
    re-executing or re-planning it. Returns ``(frame, values)``.

    A cut runs a job of its own only when it must. Without ``metrics``
    it is lazy and ``values`` is empty: adaptive execution runs the
    shuffle stages above the cut while it is built, and the last stage
    runs in the first job that reads it. With ``metrics`` (name →
    aggregate Column) it runs at once: the aggregates ride that job
    through a fresh unnamed :class:`Observation` (so two builds of one
    query never share an observation key), read after it returns.
    Either way building a query that cuts executes part of it, so scan
    audits must wrap construction.

    ``localCheckpoint`` rows live in executor storage, are released by
    driver GC rather than ``catalog.clearCache`` and do not survive
    executor loss: at cluster scale this is the one call to turn into a
    reliable ``checkpoint``."""
    if metrics:
        obs = Observation()
        df = df.observe(obs, *(c.alias(k) for k, c in metrics.items()))
    out = df.localCheckpoint(eager=bool(metrics))
    return out, obs.get if metrics else {}


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_rounds: int,
    changed: Column | None = None,
) -> tuple[DataFrame, int]:
    """Iterate ``state = cut(step(state))``; return ``(state, rounds)``.
    Without ``changed`` it runs exactly ``max_rounds`` rounds. With it
    (a boolean Column over the step's output) its true-count rides
    each round's cut job, and the loop stops after the first round in
    which it is 0, or after ``max_rounds``."""
    metrics = {} if changed is None else {"changed": F.count_if(changed)}
    rounds = 0
    while rounds < max_rounds:
        rounds += 1
        state, seen = cut(step(state), **metrics)
        if seen.get("changed") == 0:
            break
    return state, rounds


def canonical_undirected(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Undirected edge set as (u < v) canonical rows, self-loops
    dropped, deduplicated."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") < F.col("v"))
        .distinct()
    )


def degree_oriented(e: DataFrame) -> DataFrame:
    """Orient each canonical undirected (u, v) edge toward the HIGHER
    (degree, id) endpoint — the standard triangle-enumeration
    orientation (Chiba–Nishizeki / Schank–Wagner "forward" algorithm;
    also cf. Suri & Vassilvitskii, WWW'11, for the MapReduce variant).
    (degree, id) is a total order, so every edge gets exactly one
    direction and each node's OUT-degree is bounded by ~sqrt(2m):
    a node can only point at neighbors of equal-or-higher degree, so
    a degree-d hub's d edges almost all point INTO it. Wedge fan-out
    per node is C(outdeg, 2) — O(m^1.5) total under any degree
    distribution, vs O(d_max^2) for id-ordering on a power-law graph
    (the measured r9 failure: one >20-min straggler task at sf0.1 on
    the dense near-dup graph, the hottest doc's id happening to sort
    low). Returns (u, v, dv) where dv is v's degree — carried so the
    wedge join can compare upper-endpoint ranks without re-joining
    the degree table."""
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    with_deg = e.join(
        deg.select(F.col("node").alias("u"), F.col("deg").alias("du")), "u"
    ).join(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")), "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return with_deg.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("u"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("v"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dv"),
    )


#: Broadcast regime bound for :func:`triangle_counts`'s closing-edge
#: join: the ORIENTED EDGE LIST (u, v — two longs, ~16 B/row plus hash
#: map overhead) must fit in executor memory. 100M edges ≈ 1.6 GB of
#: key payload (~4-5 GB as a broadcast hash relation) — inside this
#: sandbox's 128 GiB JVM and a typical 16-32 GiB production executor.
#: Above the bound the plan degrades to the shuffled
#: Suri–Vassilvitskii closing join instead of OOMing the executors.
BROADCAST_EDGE_LIMIT = 100_000_000


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    broadcast_edge_limit: int = BROADCAST_EDGE_LIMIT,
) -> DataFrame:
    """Per-node triangle participation counts.

    Classic two-join formulation over DEGREE-ordered oriented edges:
    with nodes ranked by (degree, id), a triangle a<b<c (rank order)
    appears exactly once as oriented edges (a,b),(a,c),(b,c) — the
    wedge join (shared source, rank-ordered targets) plus one
    closing-edge equi-join. Every join is an equi-join on node ids;
    nothing driver-side. The orientation is the scale lever
    (:func:`degree_oriented`): wedge fan-out is C(outdeg, 2) with
    outdeg bounded ~sqrt(2m), so total wedge work is O(m^1.5) under
    power-law skew — id-ordering put the r9 sf0.1 spot-run into a
    single >20-minute straggler task on the dense near-dup graph's
    hottest node; triangle SETS are orientation-invariant, so the
    id-ordered oracle twin (TRIANGLES_ORACLE_SQL) is unchanged.
    """
    # TWO cuts, and the first one is load-bearing: the canonical edge
    # list is cut BEFORE degree_oriented, because orientation
    # references the edges twice more (the degree aggregate + the
    # attach joins) on top of the three wedge-join aliases — without
    # the cut every reference re-executes the full upstream pipeline
    # that produced the edges (pair generation is far more expensive
    # than the edge list is large; measured r10 at sf0.1: orienting
    # the UNCUT relation re-ran jaccard_pairs per reference and filled
    # the disk with shuffle spill before ENOSPC). The second cut
    # materializes the small oriented relation once for the three
    # self-join aliases, and counts it for the broadcast gate below.
    e0, _ = cut(canonical_undirected(edges, src, dst))
    e, seen = cut(degree_oriented(e0), n_edges=F.count(F.lit(1)))
    ab, ac = e.alias("ab"), e.alias("ac")
    bc = e.select(F.col("u").alias("_bu"), F.col("v").alias("_bv"))
    # Wedge targets ordered by the SAME (degree, id) rank used to
    # orient — (dv, v) lexicographic — so each triangle's wedge is
    # picked once; the closing edge b->c is oriented b<c by rank, so
    # plain id-equality closes it.
    rank_lt = (F.col("ab.dv") < F.col("ac.dv")) | (
        (F.col("ab.dv") == F.col("ac.dv")) & (F.col("ab.v") < F.col("ac.v"))
    )
    # The wedge STREAM is the volume term — Σ C(outdeg, 2), which on a
    # duplicate near-clique of size c is inherently ~C(c, 3) (measured
    # sf0.1 fixture: a 2934-doc J>=0.8 clique -> 1.88e9 wedges; that is
    # the cost of EXACT per-node triangle counts on an uncollapsed
    # duplicate clique, not a plan artifact). So the wedge stream must
    # never touch an exchange: (1) the closing-edge side is broadcast
    # while the ORIENTED EDGE LIST fits the broadcast regime
    # (edge count <= broadcast_edge_limit — counted by e's own cut
    # job), letting wedges probe an in-memory hash map-side;
    # beyond the bound the plan DEGRADES rather than OOMs: the
    # closing join runs shuffled (Suri–Vassilvitskii), where
    # orientation still bounds total wedge volume under power-law
    # skew, at the cost of exchanging the wedge stream — the r11
    # advice fix turning the prose fallback into a real gate;
    # (2) each surviving triangle
    # explodes to its three role rows IN-ROW (one pass — a 3-way union
    # of projections would re-execute the join per branch), and
    # partial aggregation collapses every task's stream to <= |V| rows
    # before the only post-edge shuffle. Measured sf0.1 effect: the
    # r9 id-ordered shuffled plan died >20 min into one straggler
    # task; the r10 shuffled-oriented plan spilled the 1.9e9-row wedge
    # exchange to ENOSPC; this plan streams it.
    closing = F.broadcast(bc) if seen["n_edges"] <= broadcast_edge_limit else bc
    tri = ab.join(ac, (F.col("ab.u") == F.col("ac.u")) & rank_lt).join(
        closing,
        (F.col("_bu") == F.col("ab.v")) & (F.col("_bv") == F.col("ac.v")),
    )
    roles = tri.select(
        F.explode(
            F.array(F.col("ab.u"), F.col("ab.v"), F.col("ac.v"))
        ).alias("node")
    )
    return roles.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


#: Two DuckDB materialization decisions mirror the Spark operator's two
#: lineage cuts (both from round-10 sf0.1 measurement):
#: (1) ``e AS MATERIALIZED`` — the edge list is referenced three times
#: by the triangle joins, and DuckDB otherwise INLINES the full
#: upstream edge pipeline per reference (for g1 that is the whole
#: jaccard-pairs inverted-index computation: parquet scan + unnest +
#: window + join, three times over).
#: (2) ``roles`` references tri exactly ONCE (UNNEST of the 3-element
#: role list), not as a 3-way UNION of projections: a multi-referenced
#: tri would itself be materialized, and on the sf0.1 fixture's
#: 2934-doc near-clique tri holds ~1.9e9 rows.
#: MEASURED LIMIT (round 10): even with both fixes this oracle is
#: sf0.01-only (1.1 s there, hash-exact). At sf0.1 DuckDB's cardinality
#: estimate for the wedge join output is EC:0, so the optimizer builds
#: a hash table ON the ~1.9e9-row wedge stream (~85 GB RSS ballooning,
#: or a few-hundred-GB spill under a memory cap); an EXISTS/semi
#: rewrite hits the same build-side choice, and a wedge->GROUP BY
#: common-neighbor reformulation spills its 1.26e10-row aggregate
#: input. g1 therefore sits in drive_driver's SF01_QUADRATIC_TIER:
#: sf0.1 cross-engine verification is infeasible on one box BY
#: MEASUREMENT (three formulations tried), while the Spark side —
#: whose broadcast-closing plan never materializes the stream —
#: completes sf0.1 in ~245 s with evenly distributed tasks.
TRIANGLES_ORACLE_SQL = """
WITH raw({src}, {dst}) AS ({edges_sql}),
e AS MATERIALIZED (
  SELECT DISTINCT LEAST({src}, {dst}) AS u, GREATEST({src}, {dst}) AS v
  FROM raw WHERE {src} <> {dst}
),
tri AS (
  SELECT ab.u AS a, ab.v AS b, ac.v AS c
  FROM e ab
  JOIN e ac ON ab.u = ac.u AND ab.v < ac.v
  JOIN e bc ON bc.u = ab.v AND bc.v = ac.v
),
roles AS (SELECT UNNEST([a, b, c]) AS node FROM tri)
SELECT node, COUNT(*) AS n_triangles
FROM roles GROUP BY node
"""


def pagerank(
    edges: DataFrame,
    iterations: int = 8,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list.

    Per iteration: each node splits its rank over its out-edges, each
    node collects 0.15/N + 0.85 * (incoming contributions) — a sparse
    matrix–vector product (EDBT 2021's linear algebra over big data):
    one equi-join (ranks ⋈ out-degree-carrying edges on src) plus one
    hash aggregate (sum by dst, over a zero row per node). Dangling
    mass is dropped (the common simplification) — the oracle replays
    the identical choice. Contribution sums go through the decimal
    canon, so each iteration is bit-equal to the unrolled DuckDB CTE.
    """
    # Cut the static relations once, or each round would re-run the
    # upstream pipeline that produced the edge list.
    dedges = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    outdeg = F.count(F.lit(1)).over(Window.partitionBy("src"))
    wedges, _ = cut(dedges.withColumn("outdeg", outdeg))
    nodes, seen = cut(
        wedges.select(F.col("src").alias("node"))
        .unionAll(wedges.select(F.col("dst").alias("node")))
        .distinct(),
        n=F.count(F.lit(1)),
    )
    base = (1.0 - damping) / seen["n"]
    zeros = nodes.select("node", F.lit(0.0).alias("c"))

    def spread(ranks: DataFrame) -> DataFrame:
        contribs = wedges.join(ranks.withColumnRenamed("node", "src"), "src").select(
            F.col("dst").alias("node"), (F.col("r") / F.col("outdeg")).alias("c")
        )
        return (
            contribs.unionAll(zeros)
            .groupBy("node")
            .agg((F.lit(base) + F.lit(damping) * dsum("c")).alias("r"))
        )

    ranks, _ = fixpoint(nodes.withColumn("r", F.lit(1.0 / seen["n"])), spread, iterations)
    return ranks.select("node", F.col("r").alias("pagerank"))


def pagerank_oracle_sql(edges_sql: str, iterations: int = 8, damping: float = 0.85) -> str:
    """Unrolled-CTE DuckDB twin of :func:`pagerank` — same edge
    dedup, same dangling-mass drop, same DECIMAL(38,10) contribution
    sums, one CTE per iteration (recursive CTEs can't aggregate over
    the recursive relation, so fixed iterations are unrolled)."""
    head = f"""
WITH raw(src, dst) AS ({edges_sql}),
dedges AS (SELECT DISTINCT src, dst FROM raw),
nodes AS (
  SELECT src AS node FROM dedges UNION SELECT dst FROM dedges
),
nn AS (SELECT COUNT(*) AS n FROM nodes),
outdeg AS (SELECT src, COUNT(*) AS outdeg FROM dedges GROUP BY src),
r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS r FROM nodes, nn)
"""
    # Every literal is CAST(... AS DOUBLE): DuckDB would otherwise do
    # DECIMAL arithmetic on 1.0/0.85 where Spark/Python do IEEE double
    # (1.0 - 0.85 is 0.15000000000000002 in doubles, NOT decimal 0.15),
    # and the decimal sum is the dsum_sql canon.
    iters = []
    for i in range(1, iterations + 1):
        iters.append(
            f""",
c{i} AS (
  SELECT e.dst AS node,
         {dsum_sql('p.r / outdeg.outdeg')} AS s
  FROM r{i - 1} p
  JOIN outdeg ON outdeg.src = p.node
  JOIN dedges e ON e.src = p.node
  GROUP BY e.dst
),
r{i} AS (
  SELECT nodes.node,
         (CAST(1.0 AS DOUBLE) - CAST({damping} AS DOUBLE)) / nn.n
           + CAST({damping} AS DOUBLE) * COALESCE(c{i}.s, CAST(0.0 AS DOUBLE)) AS r
  FROM nodes CROSS JOIN nn
  LEFT JOIN c{i} ON c{i}.node = nodes.node
)"""
        )
    return head + "".join(iters) + f"\nSELECT node, r AS pagerank FROM r{iterations}"


def kcore_peel(edges: DataFrame, k: int) -> tuple[DataFrame, int]:
    """k-core decomposition by iterative degree peeling, run to a TRUE
    fixpoint: drop nodes with degree < k, recompute degrees on the
    induced subgraph, repeat until nothing drops. Returns the
    surviving (node, degree) frame and the number of peel rounds
    executed — the round count is what tests pin against the oracle's
    fixed unroll depth (g4's docstring contract). Each round is one
    degree aggregate over two semi-joins of the whole edge list (cut
    once) against the survivors; the count of nodes still below ``k``
    rides its cut job. Rounds are bounded by peeling depth (max
    degree), not diameter."""
    edges, _ = cut(edges)

    def degrees(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("doc_a").alias("node"))
            .unionAll(e.select(F.col("doc_b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("degree"))
        )

    def peel(deg: DataFrame) -> DataFrame:
        keep = deg.filter(F.col("degree") >= k).select("node")
        return degrees(
            edges.join(keep.withColumnRenamed("node", "doc_a"), "doc_a", "left_semi")
            .join(keep.withColumnRenamed("node", "doc_b"), "doc_b", "left_semi")
        )

    low = F.col("degree") < k
    deg, seen = cut(degrees(edges), low=F.count_if(low), n=F.count(F.lit(1)))
    # each round but the last peels a node, so n rounds reach the fixpoint;
    # fixpoint runs at least one round, and a graph that is its own k-core needs none
    deg, rounds = fixpoint(deg, peel, seen["n"], changed=low) if seen["low"] else (deg, 0)
    return (
        deg.filter(F.col("degree") >= k).select(
            F.col("node").alias("doc_id"), F.col("degree").alias("core_degree")
        ),
        rounds,
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 4,
) -> DataFrame:
    """Synchronous label-propagation communities (Raghavan et al.):
    every node starts as its own label; each round it adopts its
    neighbors' MOST FREQUENT label (ties → smallest label). Unlike the
    min-label connected-components propagation (operators/dedup.py
    cluster path), the mode vote respects local density — a thin
    bridge edge between two dense near-dup cliques does not merge
    them. Fixed ``rounds`` keeps the oracle replayable as unrolled
    CTEs; the mode is the min (-count, label) struct per node — the
    oracle's two exact stages, max count then min label — identical in
    both engines for ANY label domain (a single cnt·C − label score
    inverts the vote once labels exceed C: 64-bit hash ids would).

    Scale: each round is one (node-keyed) join + two hash aggregates
    over the edge list, one :func:`fixpoint` round. The undirected
    edge relation is cut ONCE up front (round 9: the executed-scan
    audit caught g5 re-running jaccard_pairs in every round, 12 corpus
    scans). Returns (node, label)."""
    und = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    und = und.union(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    und, _ = cut(und.filter(F.col("a") != F.col("b")).distinct())

    def vote(labels: DataFrame) -> DataFrame:
        nl = und.join(
            labels.select(F.col("node").alias("b"), "label"), "b"
        ).select(F.col("a").alias("node"), F.col("label").alias("nl"))
        votes = nl.groupBy("node", "nl").agg(F.count(F.lit(1)).alias("cnt"))
        winner = F.min(F.struct((-F.col("cnt")).alias("c"), F.col("nl").alias("nl")))
        return votes.groupBy("node").agg(winner["nl"].alias("label"))

    labels = und.select(F.col("a").alias("node")).distinct().withColumn("label", F.col("node"))
    labels, _ = fixpoint(labels, vote, rounds)
    return labels


def label_propagation_oracle_sql(edges_sql: str, rounds: int = 4) -> str:
    """Unrolled-CTE DuckDB twin of :func:`label_propagation`.

    ``raw_edges``/``und`` are MATERIALIZED (round 11): ``und`` is
    referenced once per unrolled round, and DuckDB otherwise INLINES
    the full upstream edge pipeline per reference — for g5 that is
    the whole jaccard-pairs computation, 5+ times over. This is the
    oracle-side mirror of the Spark operator's own edge cut (the r9
    fix above) and of the g1/g4 oracles'
    ``AS MATERIALIZED`` hygiene; without it the r11 sf0.1 spot-run
    died spilling >79 GB of DuckDB temp to disk (ENOSPC, measured)
    after r9's attempt expired a 13-minute box."""
    parts = [
        f"WITH raw_edges AS MATERIALIZED ({edges_sql}),",
        """und AS MATERIALIZED (
  SELECT src AS a, dst AS b FROM raw_edges WHERE src <> dst
  UNION
  SELECT dst AS a, src AS b FROM raw_edges WHERE src <> dst
),
l0 AS (SELECT DISTINCT a AS node, a AS label FROM und)""",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
c{r} AS (
  SELECT und.a AS node, l{r-1}.label AS nl, COUNT(*) AS cnt
  FROM und JOIN l{r-1} ON l{r-1}.node = und.b
  GROUP BY 1, 2
),
m{r} AS (SELECT node, MAX(cnt) AS mc FROM c{r} GROUP BY node),
l{r} AS (
  SELECT c{r}.node, MIN(nl) AS label
  FROM c{r} JOIN m{r} ON m{r}.node = c{r}.node AND c{r}.cnt = m{r}.mc
  GROUP BY c{r}.node
)"""
        )
    parts.append(f"\nSELECT node, label FROM l{rounds}")
    return "".join(parts)
