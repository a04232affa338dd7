"""Property and algorithm tests for the custom operators (SURVEY.md
§5.2.4): things the row-hash oracle can't check — recall of approximate
algorithms, numeric agreement with numpy, idempotence, determinism."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from big_data_programming_spark.operators.dedup import (
    exact_dedup_keys,
    jaccard_pairs,
    minhash_dedup_pairs,
    minhash_lsh_candidates,
)
from big_data_programming_spark.operators.multimodal import (
    decode_stub,
    fake_decode_features,
    synthesize_blobs,
)
from big_data_programming_spark.operators.sessions import sessionize
from big_data_programming_spark.operators.similarity import (
    as_double_array,
    cosine_similarity_col,
    topk_cosine,
)
from big_data_programming_spark.sources.loaders import load
from tests.conftest import SMOKE_SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return load(spark, SMOKE_SF_DIR, "documents")


@pytest.fixture(scope="module")
def emb(spark):
    return load(spark, SMOKE_SF_DIR, "embeddings")


# ---------- dedup ----------


def test_exact_dedup_partitions_corpus(docs):
    """Hash groups partition the corpus: group sizes sum to |docs|."""
    agg = exact_dedup_keys(docs).agg(F.sum("n_copies"), F.count("*")).collect()[0]
    assert agg[0] == docs.count()


def test_exact_dedup_idempotent(spark, docs):
    """Deduping an already-deduped corpus is the identity (§5.2.4)."""
    keep = exact_dedup_keys(docs).select(F.col("keep_doc_id").alias("doc_id"))
    once = docs.join(keep, "doc_id")
    again = exact_dedup_keys(once)
    assert again.filter(F.col("n_copies") > 1).count() == 0
    assert again.count() == once.count()


def test_minhash_lsh_recall_vs_exact_jaccard(docs):
    """SURVEY.md §7 hard-part 4: the margin-widened LSH candidate set
    must cover every true near-dup pair (Jaccard ≥ 0.5). 32 hash
    tables put the bucket-miss probability per true pair below 1e-9,
    and the 0.1 distance margin absorbs HashingTF feature-space drift,
    so coverage on the fixture must be total — this is what licenses
    l2c's exact oracle."""
    truth = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs(docs, threshold=0.5).collect()
    }
    if not truth:
        pytest.skip("fixture has no true near-dup pairs at 0.5")
    cand = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_candidates(docs, jaccard_threshold=0.5).collect()
    }
    missed = truth - cand
    assert not missed, f"LSH missed {len(missed)}/{len(truth)} true pairs: {sorted(missed)[:5]}"


def test_jaccard_df_cap_inactive_on_fixture_but_bounds_hot_tokens(docs, spark):
    """The default max_token_df never triggers at fixture scale, and on
    a synthetic corpus where the exact capped result is derivable by
    hand, the cap PROVABLY drops the hot token: pairs sharing only it
    vanish and shared-counts exclude it (a no-op cap would fail both).
    The DuckDB twin bakes in the SAME cap (ADVICE r4: a triggering cap
    must not silently diverge the hash), pinned below via the shared
    MAX_TOKEN_DF constant."""
    from big_data_programming_spark.operators.dedup import (
        MAX_TOKEN_DF,
        overlap_oracle_sql,
        tokenize,
        tokens_sql,
    )

    # oracle lockstep: the SQL twin carries the exact default cap
    assert f"<= {MAX_TOKEN_DF}" in overlap_oracle_sql(tokens_sql(), 0.5)
    import inspect

    sig = inspect.signature(jaccard_pairs)
    assert sig.parameters["max_token_df"].default == MAX_TOKEN_DF

    df_counts = (
        docs.select(F.explode(F.array_distinct(tokenize(F.col("text")))).alias("t"))
        .groupBy("t")
        .count()
    )
    max_df = df_counts.agg(F.max("count")).collect()[0][0]
    assert max_df < 100_000, "fixture df approaching the default cap"
    # synthetic: 'hot' is in all 3 docs (df=3); cap=2 must drop it.
    tiny = spark.createDataFrame(
        [(1, "hot x"), (2, "hot y"), (3, "hot x z")], ["doc_id", "text"]
    )
    capped = {
        (r.doc_a, r.doc_b): (r.n_shared, r.jaccard)
        for r in jaccard_pairs(tiny, threshold=0.0, max_token_df=2).collect()
    }
    # without 'hot': A={x} B={y} C={x,z} -> only A-C share, jaccard 1/2;
    # the uncapped result would also contain (1,2) and (2,3) via 'hot'.
    assert capped == {(1, 3): (1, 0.5)}
    uncapped = jaccard_pairs(tiny, threshold=0.0, max_token_df=None).count()
    assert uncapped == 3


def test_minhash_verified_equals_ground_truth(docs):
    """The full generate→verify pipeline reproduces the exact all-pairs
    result: identical pairs AND identical Jaccard values."""
    truth = {
        (r.doc_a, r.doc_b): (r.n_shared, r.jaccard)
        for r in jaccard_pairs(docs, threshold=0.5).collect()
    }
    got = {
        (r.doc_a, r.doc_b): (r.n_shared, r.jaccard)
        for r in minhash_dedup_pairs(docs, threshold=0.5).collect()
    }
    assert got == truth


# ---------- similarity ----------


def test_cosine_self_similarity_is_one(emb):
    """cos(v, v) = 1 exactly (same fold both sides of the divide)."""
    d = emb.select(
        cosine_similarity_col(
            as_double_array(F.col("embedding")), as_double_array(F.col("embedding"))
        ).alias("s")
    )
    mn, mx = d.agg(F.min("s"), F.max("s")).collect()[0]
    assert mn == pytest.approx(1.0, abs=1e-12)
    assert mx == pytest.approx(1.0, abs=1e-12)


def test_topk_cosine_matches_numpy(spark, emb):
    """Brute-force top-k agrees with a numpy reference on ids and (to
    float tolerance) scores."""
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    M = np.array([r.embedding for r in rows], dtype=np.float64)
    q = M[ids.tolist().index(0)]
    sims = (M @ q) / (np.linalg.norm(M, axis=1) * np.linalg.norm(q))
    order = np.lexsort((ids, -sims))[:10]
    expected = list(zip(ids[order].tolist(), sims[order].tolist()))

    query = emb.filter(F.col("vec_id") == 0).select(
        as_double_array(F.col("embedding")).alias("q")
    )
    got = [(r.vec_id, r.cosine_sim) for r in topk_cosine(emb, query, k=10).collect()]
    assert [g[0] for g in got] == [e[0] for e in expected]
    for (_, gs), (_, es) in zip(got, expected):
        assert gs == pytest.approx(es, abs=1e-9)


def test_label_centroid_matches_numpy(spark, emb):
    """The posexplode-reassemble centroid equals numpy's mean to float
    tolerance (exactness is impossible for float means; the query is
    registered rows-only for precisely this reason)."""
    rows = emb.select("label", "embedding").collect()
    by_label: dict[int, list] = {}
    for r in rows:
        by_label.setdefault(r.label, []).append(r.embedding)
    flat = emb.select(
        "label", F.posexplode(as_double_array(F.col("embedding"))).alias("pos", "x")
    )
    centroids = {
        r.label: r.centroid
        for r in flat.groupBy("label", "pos")
        .agg(F.avg("x").alias("cx"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cx"))), lambda s: s.cx
            ).alias("centroid")
        )
        .collect()
    }
    for label, vecs in by_label.items():
        want = np.mean(np.array(vecs, dtype=np.float64), axis=0)
        got = np.array(centroids[label])
        np.testing.assert_allclose(got, want, rtol=0, atol=1e-9)


# ---------- sessions ----------


def test_sessionize_properties(spark):
    """Session algebra on a hand-built trace: gap >30min splits, ≤30min
    continues; event counts and bounds are exact."""
    rows = [
        (1, 100, "2024-01-01 00:00:00", 1.0),
        (2, 100, "2024-01-01 00:10:00", 1.0),  # +10m: same session
        (3, 100, "2024-01-01 00:40:00", 1.0),  # +30m exactly: same (gap > only)
        (4, 100, "2024-01-01 01:20:00", 1.0),  # +40m: new session
        (5, 200, "2024-01-01 00:00:00", 1.0),  # other user independent
    ]
    e = spark.createDataFrame(
        [(i, u, ts, v) for i, u, ts, v in rows],
        "event_id long, user_id long, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    got = {
        (r.user_id, r.session_id): r.n_events
        for r in sessionize(e, gap_minutes=30).collect()
    }
    assert got == {(100, 1): 3, (100, 2): 1, (200, 1): 1}


def test_sessionize_events_cover_all(spark):
    """No event is lost or duplicated by sessionization."""
    e = load(spark, SMOKE_SF_DIR, "events")
    total = sessionize(e).agg(F.sum("n_events")).collect()[0][0]
    assert total == e.count()


def test_event_time_twins_agree(spark):
    """The event-time kernels of operators/sessions.py agree across
    engines on the boundary cases: gaps of exactly 30:00, 30:00 - 1 us
    and 30:00 + 1 us, a tie on ts (event_id breaks it), and timestamps
    exactly on an hour boundary and 1 us before one.

    - session_ids (Spark) against session_ids_sql (DuckDB) at 30:00 and
      30:00 - 1 us, with the session ids pinned;
    - session_ids_sql at 30:00 against Spark's own F.session_window,
      which keeps an event exactly 30:00 after the previous one in its
      session (st4 relies on this): same sessions, same counts;
    - window_sql against F.window for 1 h tumbling and 1 h / 15 min
      sliding windows, read through window_bounds;
    - watermark_us_sql: max event time floored to ms, minus the delay."""
    import datetime as dt

    import duckdb

    from big_data_programming_spark.operators.sessions import (
        session_ids,
        session_ids_sql,
        watermark_us_sql,
        window_bounds,
        window_sql,
    )

    t0 = dt.datetime(2024, 1, 1)
    us = dt.timedelta(microseconds=1)
    gap = dt.timedelta(minutes=30)
    rows = [
        (1, 1, t0),  # on an hour boundary
        (2, 1, t0 + gap),  # gap exactly 30:00
        (3, 1, t0 + 2 * gap - us),  # 30:00 - 1 us; 1 us before 01:00
        (4, 1, t0 + 3 * gap),  # 30:00 + 1 us
        (5, 2, t0 + 4 * gap - us),  # 1 us before 02:00
        (6, 2, t0 + 4 * gap),  # on 02:00, gap 1 us
        (7, 2, t0 + 5 * gap),  # gap exactly 30:00
        (8, 2, t0 + 5 * gap),  # tie on ts
        (9, 3, t0 + 6 * gap + 999 * us),  # last event: ms floor matters
    ]
    events = spark.createDataFrame(
        [(i, u, ts, float(i)) for i, u, ts in rows],
        "event_id long, user_id long, ts timestamp_ntz, value double",
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events (event_id BIGINT, user_id BIGINT, ts TIMESTAMP, value DOUBLE)"
    )
    con.executemany(
        "INSERT INTO events VALUES (?, ?, ?, ?)", [(i, u, ts, float(i)) for i, u, ts in rows]
    )

    gap_us = 30 * 60 * 1_000_000
    cols = ["event_id", "gap_us", "is_new_session", "session_id"]
    want_ids = {gap_us: [1, 1, 1, 2, 1, 1, 1, 1, 1], gap_us - 1: [1, 2, 2, 3, 1, 1, 2, 2, 1]}
    for g, want in want_ids.items():
        got = sorted(tuple(r) for r in session_ids(events, g).select(*cols).collect())
        got_d = sorted(
            con.execute(f"SELECT {', '.join(cols)} FROM ({session_ids_sql(g)})").fetchall()
        )
        assert got == got_d, (g, got, got_d)
        assert [r[3] for r in got] == want, (g, got)

    sessions = {
        (r.user_id, r.start, r.n)
        for r in events.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", *window_bounds("w", "start"), "n")
        .collect()
    }
    sessions_d = set(
        con.execute(
            f"SELECT user_id, MIN(ts), COUNT(*) FROM ({session_ids_sql(gap_us)}) "
            "GROUP BY user_id, session_id"
        ).fetchall()
    )
    assert sessions == sessions_d, (sessions, sessions_d)

    windows = {}
    sliding = (("1 hour", "15 minutes"), ["0", "900", "1800", "2700"])
    for spec, offsets in ((("1 hour",), ["0"]), sliding):
        windows[spec] = {
            tuple(r)
            for r in events.groupBy(F.window("ts", *spec).alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(*window_bounds("w", "ws", "we"), "n")
            .collect()
        }
        bounds = " UNION ALL ".join(
            f"SELECT {window_sql('ts', 3600, 'ws', 'we', offset=o)} FROM events" for o in offsets
        )
        got_d = set(
            con.execute(f"SELECT ws, we, COUNT(*) FROM ({bounds}) GROUP BY 1, 2").fetchall()
        )
        assert windows[spec] == got_d, (spec, windows[spec], got_d)
    # 00:59:59.999999 closes the first hour; 02:00:00 opens the third
    assert {(t0, t0 + 2 * gap, 3), (t0 + 4 * gap, t0 + 6 * gap, 3)} <= windows[("1 hour",)]

    last_ms_us = int((t0 + 6 * gap - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    for delay_ms in (0, 2 * 3600 * 1000):
        assert con.execute(f"SELECT {watermark_us_sql('events', delay_ms)}").fetchone()[0] == (
            last_ms_us - delay_ms * 1000
        )


# ---------- multimodal ----------


def test_decode_stub_is_a_stub():
    with pytest.raises(NotImplementedError):
        decode_stub(b"\x89PNG", "png")


def test_fake_decode_deterministic_and_correct(spark, docs):
    """The fake decoder's features match a plain-Python computation of
    the same functions — the plumbing (Arrow batching, schema, struct
    metadata access) adds/loses nothing."""
    blobs = synthesize_blobs(docs.limit(50))
    feats = {r.doc_id: r for r in fake_decode_features(blobs).collect()}
    for row in docs.limit(50).collect():
        payload = row.text.encode()
        f = feats[row.doc_id]
        assert f.n_bytes == len(payload)
        assert f.first_byte == payload[0]
        assert f.byte_sum_mod == sum(payload) % 2147483647
        assert f.n_pixels == (row.n_chars % 640 + 1) * (row.n_chars % 480 + 1)


def test_ivf_exact_when_probing_all_lists(spark, emb):
    """nprobe = n_lists degrades IVF to exact brute force — identical
    ids and scores to topk_cosine."""
    from big_data_programming_spark.operators.similarity import ivf_build, ivf_topk

    assigned, centers = ivf_build(emb, n_lists=8)
    query = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0].embedding]
    got = [(r.vec_id, r.cosine_sim) for r in ivf_topk(assigned, centers, query, k=10, nprobe=8).collect()]

    qdf = emb.filter(F.col("vec_id") == 0).select(as_double_array(F.col("embedding")).alias("q"))
    want = [(r.vec_id, r.cosine_sim) for r in topk_cosine(emb, qdf, k=10).collect()]
    assert got == want


def test_ivf_partial_probe_recall(spark, emb):
    """Probing 4 of 8 lists must still recover most of the true top-10
    (the query's own list plus neighbors hold the near vectors)."""
    from big_data_programming_spark.operators.similarity import ivf_build, ivf_topk

    assigned, centers = ivf_build(emb, n_lists=8)
    query = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0].embedding]
    got = {r.vec_id for r in ivf_topk(assigned, centers, query, k=10, nprobe=4).collect()}
    qdf = emb.filter(F.col("vec_id") == 0).select(as_double_array(F.col("embedding")).alias("q"))
    truth = {r.vec_id for r in topk_cosine(emb, qdf, k=10).collect()}
    recall = len(got & truth) / len(truth)
    assert recall >= 0.7, f"IVF nprobe=4/8 recall {recall}"


def test_latest_per_key_merge_invariance(spark):
    """ST11 core property: reducing batch-by-batch then merging equals
    reducing the whole input at once — the restartability guarantee of
    the incremental-upsert pipeline, for any batch split."""
    from big_data_programming_spark.operators.upsert import latest_per_key

    ev = load(spark, SMOKE_SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    keys, order = ["user_id"], ["ts", "event_id"]
    whole = latest_per_key(ev, keys, order)

    # split into 3 arbitrary batches by event_id residue and fold
    batches = [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]
    snap = latest_per_key(batches[0], keys, order)
    for b in batches[1:]:
        snap = latest_per_key(
            snap.unionByName(latest_per_key(b, keys, order)), keys, order
        )

    assert snap.count() == whole.count()
    assert snap.exceptAll(whole).count() == 0
    assert whole.exceptAll(snap).count() == 0
    # idempotence: re-reducing a snapshot is a no-op
    again = latest_per_key(snap, keys, order)
    assert again.exceptAll(snap).count() == 0


def test_observe_metrics_single_scan(spark):
    """Pipeline accounting via df.observe: row counts and gate
    pass-rates collected as a side effect of the one real action — at
    scale the alternative (a second count() scan per metric) doubles
    I/O. The Observation rides the existing job; no extra scan."""
    from pyspark.sql import Observation

    docs = load(spark, SMOKE_SF_DIR, "documents")
    obs = Observation("quality_gate")
    gated = docs.observe(
        obs,
        F.count(F.lit(1)).alias("rows_in"),
        F.sum(F.when(F.col("n_chars") >= 100, 1).otherwise(0)).alias("rows_pass"),
    ).filter(F.col("n_chars") >= 100)
    n_out = gated.count()

    metrics = obs.get
    assert metrics["rows_in"] == docs.count()
    assert metrics["rows_pass"] == n_out


def test_two_phase_cc_matches_label_propagation_on_chain(spark, monkeypatch):
    """Large-star/small-star must agree with label propagation on the
    adversarial case it exists for: a high-diameter chain (diameter 49
    — propagation needs 49 changing rounds, contraction O(log n)). Plus
    a few disjoint blobs to check component separation. Both stop one
    round after the last change: 50 and 7 rounds, as when each loop
    probed for changes with a separate count job."""
    from big_data_programming_spark.operators import clustering
    from big_data_programming_spark.operators.clustering import (
        connected_components,
        connected_components_two_phase,
    )

    fixpoint, rounds = clustering.fixpoint, []

    def recording_fixpoint(*args, **kwargs):
        state, n = fixpoint(*args, **kwargs)
        rounds.append(n)
        return state, n

    monkeypatch.setattr(clustering, "fixpoint", recording_fixpoint)

    edges = [(i, i + 1) for i in range(49)]            # chain 0..49
    edges += [(100, 101), (101, 102), (100, 102)]       # triangle
    edges += [(200, 201)]                               # pair
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    a = {
        (r["node"], r["component"])
        for r in connected_components(df, max_iterations=60).collect()
    }
    b = {
        (r["node"], r["component"])
        for r in connected_components_two_phase(df).collect()
    }
    assert a == b
    assert rounds == [50, 7], rounds
    comps = {}
    for node, comp in b:
        comps.setdefault(comp, set()).add(node)
    assert comps[0] == set(range(50))
    assert comps[100] == {100, 101, 102}
    assert comps[200] == {200, 201}


def test_triangle_counts_on_known_graphs(spark):
    """K4 (every node in 3 triangles), a triangle with a pendant
    vertex, and a square (no triangles)."""
    from big_data_programming_spark.operators.graph import triangle_counts

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    tri_pendant = [(10, 11), (11, 12), (10, 12), (12, 13)]
    square = [(20, 21), (21, 22), (22, 23), (20, 23)]
    df = spark.createDataFrame(k4 + tri_pendant + square, "src long, dst long")
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3, 10: 1, 11: 1, 12: 1}


def test_degree_orientation_bounds_wedge_fanout_on_star(spark):
    """The r9 scale-killer, pinned structurally: on a star whose HUB
    has the LOWEST id (the id-ordering worst case — every edge sorts
    hub-first, so the hub's wedge fan-out is C(n, 2)), degree
    orientation must point every edge leaf→hub, leaving max out-degree
    1 and therefore ZERO wedges. Also re-checks counts are unchanged
    by orientation on a star + clique composite (orientation
    invariance of the triangle set)."""
    from big_data_programming_spark.operators.graph import (
        canonical_undirected,
        degree_oriented,
        triangle_counts,
    )

    n = 200
    star = [(0, i) for i in range(1, n + 1)]  # hub id 0 < every leaf id
    oriented = degree_oriented(
        canonical_undirected(spark.createDataFrame(star, "src long, dst long"))
    )
    fanout = {
        r["u"]: r["c"]
        for r in oriented.groupBy("u").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert max(fanout.values()) == 1  # id-ordering would give fanout[0] == n
    assert 0 not in fanout  # the hub sources nothing
    # orientation invariance: star contributes no triangles, the
    # attached K4 (sharing the hub) contributes exactly its 4 nodes
    k4 = [(0, 500), (0, 501), (0, 502), (500, 501), (500, 502), (501, 502)]
    df = spark.createDataFrame(star + k4, "src long, dst long")
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert got == {0: 3, 500: 3, 501: 3, 502: 3}


def test_triangle_broadcast_gate_degrades_to_shuffled_join(spark):
    """The closing-edge broadcast is GATED on the oriented edge count
    (r11 advice: the fits-in-executor-memory fallback must be a real
    code path, not prose). With broadcast_edge_limit=0 the plan must
    drop the broadcast hint (the optimizer may still pick its own
    strategy at runtime — the gate controls the HINT, i.e. the
    guaranteed-broadcast regime) and counts must be identical."""
    from big_data_programming_spark.operators.graph import triangle_counts

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    tri_pendant = [(10, 11), (11, 12), (10, 12), (12, 13)]
    df = spark.createDataFrame(k4 + tri_pendant, "src long, dst long")
    hinted = triangle_counts(df)
    shuffled = triangle_counts(df, broadcast_edge_limit=0)
    # the hint is visible in the analyzed logical plan only when given
    assert "broadcast" in hinted._jdf.queryExecution().analyzed().toString().lower()
    assert (
        "broadcast"
        not in shuffled._jdf.queryExecution().analyzed().toString().lower()
    )
    expect = {0: 3, 1: 3, 2: 3, 3: 3, 10: 1, 11: 1, 12: 1}
    assert {r["node"]: r["n_triangles"] for r in hinted.collect()} == expect
    assert {r["node"]: r["n_triangles"] for r in shuffled.collect()} == expect


def test_pagerank_partition_invariant_and_sane(spark):
    """The decimal-canon contribution sums must make PageRank
    bit-identical at different partition counts, and a node with more
    in-links must outrank one with fewer."""
    from big_data_programming_spark.operators.graph import pagerank

    edges = [
        ("a", "hub"), ("b", "hub"), ("c", "hub"), ("d", "hub"),
        ("a", "leaf"), ("hub", "a"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    r1 = {r["node"]: r["pagerank"] for r in pagerank(df.repartition(1)).collect()}
    r7 = {r["node"]: r["pagerank"] for r in pagerank(df.repartition(7)).collect()}
    assert r1 == r7  # bit-exact, not approximately equal
    assert r1["hub"] > r1["leaf"] > r1["b"] == r1["c"] == r1["d"]
    assert 0.0 < sum(r1.values()) <= 1.0 + 1e-9  # dangling mass only leaks


def test_binned_interval_join_equals_theta_join(spark):
    """X26: the binned formulation must be row-identical to the naive
    theta join on adversarial boundary cases — timestamps exactly on
    bin and interval edges, zero-length and sub-bin intervals,
    multi-bin spans, and overlapping intervals (a fact in two
    intervals yields two rows)."""
    from datetime import datetime as dt

    from big_data_programming_spark.operators.interval_join import binned_interval_join

    facts = spark.createDataFrame(
        [
            (1, dt(2024, 3, 1, 10, 0, 0)),        # exactly on a bin edge
            (2, dt(2024, 3, 1, 10, 30, 0)),       # mid-bin
            (3, dt(2024, 3, 1, 11, 59, 59, 999999)),  # last µs of a bin
            (4, dt(2024, 3, 1, 12, 0, 0)),        # == an interval end (excluded)
            (5, dt(2024, 3, 2, 5, 15, 0)),        # matches nothing
        ],
        "fact_id long, ts timestamp_ntz",
    )
    intervals = spark.createDataFrame(
        [
            (10, dt(2024, 3, 1, 10, 0, 0), dt(2024, 3, 1, 12, 0, 0)),   # aligned 2h
            (11, dt(2024, 3, 1, 10, 30, 0), dt(2024, 3, 1, 10, 45, 0)),  # sub-bin
            (12, dt(2024, 3, 1, 9, 59, 0), dt(2024, 3, 1, 13, 1, 0)),    # 5-bin span
            (13, dt(2024, 3, 1, 10, 30, 0), dt(2024, 3, 1, 10, 30, 0)),  # empty
            (14, dt(2024, 3, 1, 11, 0, 0), dt(2024, 3, 1, 10, 0, 0)),    # inverted
        ],
        "iv_id long, p_start timestamp_ntz, p_end timestamp_ntz",
    )
    binned = {
        (r["fact_id"], r["iv_id"])
        for r in binned_interval_join(facts, intervals, "ts", "p_start", "p_end").collect()
    }
    naive = {
        (r["fact_id"], r["iv_id"])
        for r in facts.join(
            intervals,
            (facts.ts >= intervals.p_start) & (facts.ts < intervals.p_end),
        ).collect()
    }
    assert binned == naive
    assert (1, 10) in binned and (4, 10) not in binned and (3, 12) in binned
    assert not any(f == 5 for f, _ in binned)


def test_containment_catches_substring_jaccard_misses(spark):
    """The motivating case for l2h: a short doc strictly contained in a
    much longer one must score containment ~1.0 while its Jaccard
    collapses toward the length ratio — so the Jaccard threshold that
    keeps the pair out must NOT keep it out of the containment pass."""
    from big_data_programming_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "the quick brown fox jumps over the lazy dog near the river bank"
    long = ("completely unrelated preamble text that goes on for a while "
            "with its own vocabulary and phrasing . " + short +
            " and then a long unrelated epilogue follows with yet more "
            "filler content to dilute the shingle overlap substantially "
            "until the jaccard similarity drops well under any threshold")
    docs = spark.createDataFrame(
        [(1, short), (2, long), (3, "entirely different third document "
                                    "sharing nothing of substance here")],
        "doc_id long, text string",
    )
    cont = {
        (r.doc_a, r.doc_b): r.containment
        for r in ngram_containment_pairs(docs, threshold=0.8).collect()
    }
    jac = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    assert (1, 2) in cont and cont[(1, 2)] > 0.95, cont
    assert (1, 2) not in jac, jac  # Jaccard at the same threshold misses it
    assert (1, 3) not in cont and (2, 3) not in cont, cont


def test_batch_observation_metrics(spark):
    """df.observe(): in-plan metric collection — row counts and sums
    computed DURING the job (no second scan, no separate count job),
    the batch sibling of the streaming listener test (X71). The
    observed values must equal a direct aggregate of the same data."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from big_data_programming_spark.sources.loaders import load
    from tests.conftest import SF_DIR

    li = load(spark, SF_DIR, "lineitem").filter(F.col("l_quantity") < 10)
    obs = Observation("gate_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(38,10)")).alias("qty_sum"),
    )
    kept = observed.count()  # one action drives both result and metrics
    m = obs.get
    assert m["n_rows"] == kept
    expected = li.agg(
        F.sum(F.col("l_quantity").cast("decimal(38,10)")).alias("s")
    ).collect()[0]["s"]
    assert m["qty_sum"] == expected


def test_kcore_converges_within_oracle_unroll(spark):
    """g4's oracle unrolls exactly 6 peeling rounds; the Spark side
    iterates to a true fixpoint. This pins the contract that makes
    them comparable: on the live fixture the fixpoint must land
    within the unroll depth (and the result must be non-trivial both
    ways — some nodes survive, some were peeled)."""
    from big_data_programming_spark.operators.dedup import jaccard_pairs
    from big_data_programming_spark.operators.graph import kcore_peel
    from big_data_programming_spark.sources.loaders import load
    from tests.conftest import SF_DIR

    edges = jaccard_pairs(load(spark, SF_DIR, "documents"), threshold=0.8).select(
        "doc_a", "doc_b"
    )
    result, rounds = kcore_peel(edges, k=3)
    assert rounds <= 6, f"fixpoint took {rounds} rounds; oracle unrolls only 6"
    n_core = result.count()
    n_nodes = (
        edges.select(F.col("doc_a").alias("n"))
        .unionAll(edges.select(F.col("doc_b").alias("n")))
        .distinct()
        .count()
    )
    assert 0 < n_core <= n_nodes


def test_kcore_on_known_graph(spark):
    """Literal-graph check: a triangle with a pendant tail — the
    2-core is exactly the triangle (each vertex degree 2), the tail
    nodes peel off in order, and peeling takes 2 rounds (tail end,
    then tail middle)."""
    from big_data_programming_spark.operators.graph import kcore_peel

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], ["doc_a", "doc_b"]
    )
    result, rounds = kcore_peel(edges, k=2)
    rows = {(r["doc_id"], r["core_degree"]) for r in result.collect()}
    assert rows == {(1, 2), (2, 2), (3, 2)}, rows
    assert rounds == 2, rounds


def test_pq_assignment_matches_numpy_reference(spark):
    """l3j's generated-SQL PQ assignment vs an independent numpy
    re-implementation with the same md5-parity codebooks: codes and
    squared errors must agree exactly (numpy sums 16 doubles the same
    way IEEE left-fold does for these magnitudes — verified by exact
    equality, which would fail if they ever diverged)."""
    import numpy as np

    from big_data_programming_spark.queries.llm_similarity import (
        _PQ_DSUB,
        _PQ_K,
        _PQ_M,
        _pq_centroid,
    )
    from big_data_programming_spark.registry import queries
    from big_data_programming_spark.sources.loaders import load
    from tests.conftest import SF_DIR

    got = {
        r["vec_id"]: ([r[f"c{m}"] for m in range(_PQ_M)], r["sq_error"])
        for r in queries()["l3j_product_quantization"](spark, SF_DIR).collect()
    }
    cents = np.array(
        [
            [[_pq_centroid(m, k, j) for j in range(_PQ_DSUB)] for k in range(_PQ_K)]
            for m in range(_PQ_M)
        ]
    )
    sample = (
        load(spark, SF_DIR, "embeddings").orderBy("vec_id").limit(50).collect()
    )
    for row in sample:
        x = np.array(row["embedding"], dtype=np.float64)
        codes, err = [], 0.0
        for m in range(_PQ_M):
            sub = x[m * _PQ_DSUB : (m + 1) * _PQ_DSUB]
            # fixed left-fold order, mirroring the generated SQL terms
            # explicit d*d, not **2: pow can be 1 ulp off the SQL's
            # self-multiplication
            dists = [
                sum(
                    (sub[j] - cents[m, k, j]) * (sub[j] - cents[m, k, j])
                    for j in range(_PQ_DSUB)
                )
                for k in range(_PQ_K)
            ]
            best = min(range(_PQ_K), key=lambda k: (dists[k], k))
            codes.append(best)
            err += dists[best]
        g_codes, g_err = got[row["vec_id"]]
        assert g_codes == codes, (row["vec_id"], g_codes, codes)
        assert g_err == err, (row["vec_id"], g_err, err)


def test_dataset_split_stable_under_corpus_growth(spark):
    """l4p's hash-split contract: a document's split assignment is a
    pure function of its id — restricting the corpus to any subset
    must not change any surviving document's assignment (the property
    that lets train/test stay disjoint across pipeline versions and
    appends)."""
    from pyspark.sql import functions as F

    from big_data_programming_spark.sources.loaders import load
    from tests.conftest import SF_DIR

    d = load(spark, SF_DIR, "documents")
    prefix = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    split = (
        F.when(prefix.isin("c", "d"), "val")
        .when(prefix.isin("e", "f"), "test")
        .otherwise("train")
    )
    full = {r["doc_id"]: r["s"] for r in d.select("doc_id", split.alias("s")).collect()}
    subset = {
        r["doc_id"]: r["s"]
        for r in d.filter(F.col("doc_id") % 3 == 0)
        .select("doc_id", split.alias("s"))
        .collect()
    }
    assert subset and all(full[k] == v for k, v in subset.items())
    assert set(full.values()) == {"train", "val", "test"}


# ---------- winnowed duplicate spans (l2k) ----------


def test_winnowing_detects_misaligned_shared_run(spark):
    """The content-defined guarantee that motivated winnowing over a
    fixed sampling grid: a 12-token run shared at DIFFERENT offsets
    (different alignment classes) must flag both documents — with
    k=8, w=4 any shared run of >= 11 tokens shares a fingerprint
    (Schleimer et al. 2003). A disjoint third doc must not flag."""
    from big_data_programming_spark.operators.dedup import winnowed_span_stats

    run = " ".join(f"r{i}" for i in range(12))
    rows = [
        (1, "a1 a2 a3 a4 a5 " + run + " a6 a7 a8"),
        (2, "b1 b2 " + run + " b3 b4 b5 b6 b7 b8"),
        (3, " ".join(f"c{i}" for i in range(25))),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r["n_dup_fingerprints"]
        for r in winnowed_span_stats(docs).collect()
    }
    assert out[1] >= 1 and out[2] >= 1, out
    assert out[3] == 0, out


def test_winnowing_short_shared_run_not_required(spark):
    """Below the w+k-1 guarantee the fingerprint sets of unrelated
    docs stay disjoint: two docs sharing only a 4-token run (shorter
    than one 8-gram) can never hash a common gram."""
    from big_data_programming_spark.operators.dedup import winnowed_span_stats

    shared = "s1 s2 s3 s4"
    rows = [
        (1, " ".join(f"a{i}" for i in range(10)) + " " + shared),
        (2, shared + " " + " ".join(f"b{i}" for i in range(10))),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = winnowed_span_stats(docs)
    assert out.agg(F.sum("n_dup_fingerprints")).collect()[0][0] == 0


def test_winnowing_density_bound(spark, docs):
    """Winnowing selects roughly 2/(w+1) of gram positions; the
    distinct fingerprint count per doc must never exceed the gram
    count (sanity on the corpus, not just planted rows)."""
    from big_data_programming_spark.operators.dedup import winnowed_span_stats

    out = winnowed_span_stats(docs)
    tok = docs.select(F.size(F.split("text", " ")).alias("n"))
    max_grams = tok.agg(F.max("n")).collect()[0][0]
    mx = out.agg(F.max("n_fingerprints")).collect()[0][0]
    assert 0 < mx <= max_grams


# ---------- Gopher gate (l5d) / unigram logprob (l5e) ----------


def test_gopher_gate_rule_attribution_consistent(spark):
    """keep == (no rule failed) row-wise, each rule boolean agrees
    with its reported statistic, and the gate is discriminating on
    the fixture corpus (both decisions occur)."""
    from big_data_programming_spark.registry import queries

    out = queries()["l5d_gopher_gate"](spark, SMOKE_SF_DIR).collect()
    keeps = {True: 0, False: 0}
    for r in out:
        assert r["keep"] == (r["n_rules_failed"] == 0)
        assert r["rule_top_token"] == (r["top_token_frac"] <= 0.125)
        assert r["rule_dup_bigram"] == (r["dup_bigram_frac"] <= 0.08)
        assert r["rule_word_count"] == (20 <= r["n_tokens"] <= 2000)
        keeps[r["keep"]] += 1
    assert keeps[True] > 0 and keeps[False] > 0, keeps


def test_unigram_logprob_bounds_and_ppl(spark):
    """Every doc's mean NLL lies within the per-token NLL extremes of
    the corpus unigram model, and ppl_proxy is exp(avg_nll) rounded
    exactly as documented."""
    from big_data_programming_spark.registry import queries
    from big_data_programming_spark.sources.loaders import load

    d = load(spark, SMOKE_SF_DIR, "documents")
    tok = d.select(F.explode(F.split("text", " ")).alias("t"))
    counts = [r[0] for r in tok.groupBy("t").count().select("count").collect()]
    n_total = sum(counts)
    lo = -math.log(max(counts) / n_total)
    hi = -math.log(min(counts) / n_total)
    out = queries()["l5e_unigram_logprob"](spark, SMOKE_SF_DIR).collect()
    for r in out:
        assert lo - 1e-6 <= r["avg_nll"] <= hi + 1e-6
        assert r["ppl_proxy"] == pytest.approx(
            round(math.exp(r["avg_nll"]), 4), abs=1e-9
        )


def test_a4b_audit_flags_hold(spark):
    """The HLL error contract a4b pins as literal TRUE in the oracle
    must hold when actually evaluated (here at the smoke SF too)."""
    from big_data_programming_spark.registry import queries

    row = queries()["a4b_approx_distinct_audit"](spark, SMOKE_SF_DIR).collect()[0]
    assert row["parts_within_5rsd"] is True
    assert row["orders_within_5rsd"] is True
    assert row["exact_parts"] > 0 and row["exact_orders"] > 0


def test_dsir_importance_contract(spark):
    """Flag agrees with the sign row-wise, n_features = 2n-1 (unigrams
    + bigrams), both signs occur, and the lang='en' target slice scores
    a higher mean importance than the non-target remainder (the
    signal's entire point)."""
    from big_data_programming_spark.registry import queries

    out = {
        r["doc_id"]: r
        for r in queries()["lm7_dsir_importance"](spark, SMOKE_SF_DIR).collect()
    }
    docs = spark.read.parquet(f"{SMOKE_SF_DIR}/documents.parquet").collect()
    en, rest = [], []
    for d in docs:
        r = out[d["doc_id"]]
        n = len(d["text"].split(" "))
        assert r["n_features"] == 2 * n - 1, (d["doc_id"], n, r["n_features"])
        assert r["resembles_target"] == (r["dsir_logw"] > 0)
        (en if d["lang"] == "en" else rest).append(r["dsir_logw"])
    assert any(v > 0 for v in en) and any(v < 0 for v in rest)
    assert sum(en) / len(en) > sum(rest) / len(rest)


def test_boilerplate_strip_accounting(spark):
    """Chunk accounting is conserved and every doc's kept_md5 replays
    from the raw text by recomputing the strip in Python (the replica
    covers the empty-survivor convention too: a fully-stripped doc
    must hash the empty string, which `want` evaluates to when kept
    is empty)."""
    import hashlib

    from big_data_programming_spark.registry import queries

    rows = {
        r["doc_id"]: r
        for r in queries()["l5f_boilerplate_chunk_strip"](
            spark, SMOKE_SF_DIR
        ).collect()
    }
    docs = {
        d["doc_id"]: d["text"].split(" ")
        for d in spark.read.parquet(f"{SMOKE_SF_DIR}/documents.parquet").collect()
    }
    # recompute the boiler set exactly
    from collections import defaultdict

    chunk_docs = defaultdict(set)
    chunked = {}
    for did, toks in docs.items():
        cs = [
            " ".join(toks[i : i + 8]) for i in range(0, len(toks), 8)
        ]
        chunked[did] = cs
        for c in cs:
            chunk_docs[c].add(did)
    boiler = {c for c, ds in chunk_docs.items() if len(ds) >= 2}
    hit = 0
    for did, r in rows.items():
        cs = chunked[did]
        kept = [c for c in cs if c not in boiler]
        assert r["n_chunks"] == len(cs)
        assert r["n_boiler_chunks"] == len(cs) - len(kept)
        assert r["kept_tokens"] == sum(len(c.split(" ")) for c in kept)
        want = hashlib.md5(" ".join(kept).encode()).hexdigest()
        assert r["kept_md5"] == want, did
        hit += r["n_boiler_chunks"] > 0
    assert hit > 0  # the op does something on the fixture


def test_zipf_fit_matches_numpy(spark):
    """The explicit-sums regression equals numpy's polyfit on the same
    rounded points, and ranks_used == min(R, |V|)."""
    import numpy as np

    from big_data_programming_spark.registry import queries

    row = queries()["l4s_zipf_fit"](spark, SMOKE_SF_DIR).collect()[0]
    toks = [
        t
        for d in spark.read.parquet(f"{SMOKE_SF_DIR}/documents.parquet").collect()
        for t in d["text"].split(" ")
    ]
    from collections import Counter

    cnt = Counter(toks)
    ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:100]
    x = np.round(np.log(np.arange(1, len(ranked) + 1)), 8)
    y = np.round(np.log([c for _, c in ranked]), 8)
    slope = np.polyfit(x, y, 1)[0]
    assert row["ranks_used"] == min(100, len(cnt))
    assert abs(row["zipf_slope"] - slope) < 1e-4
    assert row["n_tokens"] == len(toks) and row["n_vocab"] == len(cnt)


# ---------- SemDeDup (l2m) ----------


def test_semdedup_keeps_farthest_from_centroid(spark):
    """The paper's keep rule, distinguishable from keep-min-id: in a
    near-dup group the member FARTHEST from its centroid survives —
    here the seed centroid itself (cos_c = 1.0) is the prototypical
    member and must be the one dropped. Also pins the assignment
    tie-break (equidistant vector goes to the smaller cluster id)."""
    from big_data_programming_spark.operators.similarity import semdedup

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),   # seed c1
        (2, [0.0, 1.0, 0.0, 0.0]),   # seed c2
        (3, [0.9, 0.1, 0.0, 0.0]),   # c1, near-dup of 1, farther out
        (4, [0.5, 0.5, 0.7, 0.0]),   # equidistant from both seeds
        (5, [0.0, 0.95, 0.05, 0.0]), # c2, near-dup of 2, farther out
    ]
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {
        r["vec_id"]: r
        for r in semdedup(vecs, n_clusters=2, threshold=0.9, materialize=False).collect()
    }
    assert len(out) == 5
    assert {k for k, r in out.items() if r["is_kept"]} == {3, 4, 5}
    assert out[1]["cos_centroid"] == 1.0 and not out[1]["is_kept"]
    assert out[2]["cos_centroid"] == 1.0 and not out[2]["is_kept"]
    assert out[4]["cluster_id"] == 1  # tie toward the smaller cid
    assert out[3]["cluster_id"] == 1 and out[5]["cluster_id"] == 2


def test_semdedup_corpus_sanity(spark):
    """On the fixture embeddings: one row per vector, cluster ids in
    [1, 8], cosines in [-1, 1], at least one drop at the l2e
    separation threshold, and every cluster retains a survivor."""
    from big_data_programming_spark.registry import queries

    out = queries()["l2m_semdedup"](spark, SMOKE_SF_DIR)
    rows = out.collect()
    n = load(spark, SMOKE_SF_DIR, "embeddings").count()
    assert len(rows) == n
    assert all(1 <= r["cluster_id"] <= 8 for r in rows)
    assert all(-1.0 - 1e-9 <= r["cos_centroid"] <= 1.0 + 1e-9 for r in rows)
    kept_by_cluster = {}
    for r in rows:
        kept_by_cluster.setdefault(r["cluster_id"], 0)
        kept_by_cluster[r["cluster_id"]] += r["is_kept"]
    assert any(not r["is_kept"] for r in rows)
    assert all(v >= 1 for v in kept_by_cluster.values())


def test_semantic_decontamination_contract(spark):
    """l4t: one row per NON-eval vector, the flag agrees with the
    reported max cosine, nearest_eval_id really is an eval-slice
    member, and the fixture corpus is discriminating (flags both
    ways)."""
    from big_data_programming_spark.registry import queries

    emb = load(spark, SMOKE_SF_DIR, "embeddings")
    n_train = emb.filter(F.col("vec_id") % 13 != 0).count()
    rows = queries()["l4t_semantic_decontamination"](spark, SMOKE_SF_DIR).collect()
    assert len(rows) == n_train
    flags = {True: 0, False: 0}
    for r in rows:
        assert r["vec_id"] % 13 != 0
        assert r["nearest_eval_id"] % 13 == 0
        assert r["contaminated"] == (r["max_eval_cos"] >= 0.35)
        flags[r["contaminated"]] += 1
    assert flags[True] > 0 and flags[False] > 0, flags


def test_pipeline_verdict_attribution(spark):
    """l5g: verdict must equal the FIRST true flag in pipeline order
    (or 'keep' when none), eval-slice docs are excluded, and at least
    two distinct verdicts occur on the fixture."""
    from big_data_programming_spark.registry import queries

    stages = (
        "exact_dup",
        "bad_length",
        "low_stopword",
        "low_quality",
        "contaminated_ngram",
        "contaminated_semantic",
    )
    rows = queries()["l5g_pipeline_verdict"](spark, SMOKE_SF_DIR).collect()
    assert rows and all(r["doc_id"] % 13 != 0 for r in rows)
    seen = set()
    for r in rows:
        expect = next((s for s in stages if r[s]), "keep")
        assert r["verdict"] == expect, (r["doc_id"], r["verdict"], expect)
        seen.add(r["verdict"])
    assert len(seen) >= 2, seen


# ---------- ExactSubstr strip vs extents (l2k2/l2k3) ----------


def test_strip_removes_exactly_the_extents(spark):
    """Composition theorem: merged extents are disjoint per document,
    so l2k3's removed-token count must equal the sum of l2k2's
    span_tokens for every document, every unaffected document keeps
    all tokens with an unchanged md5, and a fully-stripped document
    hashes to md5('')."""
    import hashlib

    from big_data_programming_spark.registry import queries

    spans = queries()["l2k2_duplicate_span_extents"](spark, SMOKE_SF_DIR).collect()
    by_doc = {}
    for r in spans:
        by_doc[r["doc_id"]] = by_doc.get(r["doc_id"], 0) + r["span_tokens"]
    stripped = queries()["l2k3_exactsubstr_strip"](spark, SMOKE_SF_DIR).collect()
    texts = {
        r["doc_id"]: r["text"]
        for r in load(spark, SMOKE_SF_DIR, "documents").collect()
    }
    assert len(stripped) == len(texts)
    empty_md5 = hashlib.md5(b"").hexdigest()
    for r in stripped:
        assert r["n_removed"] == by_doc.get(r["doc_id"], 0), r
        assert r["n_kept"] + r["n_removed"] == r["n_tokens"], r
        if r["doc_id"] not in by_doc:
            want = hashlib.md5(texts[r["doc_id"]].encode()).hexdigest()
            assert r["kept_md5"] == want, r
        if r["n_kept"] == 0:
            assert r["kept_md5"] == empty_md5, r


# ---------- CCNet ppl buckets (l5e3) ----------


def test_ccnet_buckets_are_ordered_terciles(spark):
    """Per language: the three buckets partition the documents, sizes
    are within one tie-group of n/3, nll ranges are ordered
    head < middle < tail with no overlap (ties share buckets by
    construction, so ranges can touch only at distinct cut values —
    which the <=-cut rule forbids: equal scores land in one bucket),
    and token mass adds up to the language's total."""
    from big_data_programming_spark.registry import queries

    rows = queries()["l5e3_ccnet_ppl_buckets"](spark, SMOKE_SF_DIR).collect()
    per_lang = {}
    for r in rows:
        per_lang.setdefault(r["lang"], {})[r["bucket"]] = r
    scored = {}
    for r in queries()["l5e_unigram_logprob"](spark, SMOKE_SF_DIR).collect():
        scored[r["doc_id"]] = r
    docs = load(spark, SMOKE_SF_DIR, "documents").select("doc_id", "lang").collect()
    lang_counts, lang_tokens = {}, {}
    for d in docs:
        lang_counts[d["lang"]] = lang_counts.get(d["lang"], 0) + 1
        lang_tokens[d["lang"]] = (
            lang_tokens.get(d["lang"], 0) + scored[d["doc_id"]]["n_tokens"]
        )
    for lang, buckets in per_lang.items():
        assert set(buckets) == {"head", "middle", "tail"}, (lang, buckets)
        n = sum(b["n_docs"] for b in buckets.values())
        assert n == lang_counts[lang], (lang, n, lang_counts[lang])
        assert sum(b["total_tokens"] for b in buckets.values()) == lang_tokens[lang]
        h, m, t = buckets["head"], buckets["middle"], buckets["tail"]
        assert h["max_nll"] < m["min_nll"] <= m["max_nll"] < t["min_nll"], (
            lang,
            buckets,
        )


# ---------- Hybrid RRF fusion (l3m) ----------


def test_rrf_fusion_consistent_with_legs(spark):
    """Recompute the fusion from the legs in Python: the top-20 fused
    rows must carry exactly the leg ranks (dense = cosine order,
    sparse = BM25 order, 0 when absent from a leg's top-50) and the
    score 1/(60+r_dense) + 1/(60+r_sparse) summed over present legs."""
    from big_data_programming_spark.queries.llm_text import bm25_scored
    from big_data_programming_spark.registry import queries

    sparse = sorted(
        [
            (r["doc_id"], r["score"])
            for r in bm25_scored(spark, SMOKE_SF_DIR).collect()
        ],
        key=lambda t: (-t[1], t[0]),
    )[:50]
    r_sparse = {doc: i + 1 for i, (doc, _) in enumerate(sparse)}
    # recompute the dense leg at depth 50 the same way l3m does
    from big_data_programming_spark.operators.similarity import (
        as_double_array,
        topk_cosine,
    )
    from pyspark.sql import functions as F

    emb = load(spark, SMOKE_SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        as_double_array(F.col("embedding")).alias("q")
    )
    dense = [
        (r["vec_id"], r["cosine_sim"])
        for r in topk_cosine(emb, q, k=50).collect()
    ]
    r_dense = {vid: i + 1 for i, (vid, _) in enumerate(dense)}
    want = {}
    for doc in set(r_dense) | set(r_sparse):
        s = 0.0
        if doc in r_dense:
            s += 1.0 / (60 + r_dense[doc])
        if doc in r_sparse:
            s += 1.0 / (60 + r_sparse[doc])
        want[doc] = (r_dense.get(doc, 0), r_sparse.get(doc, 0), s)
    got = queries()["l3m_hybrid_rrf_fusion"](spark, SMOKE_SF_DIR).collect()
    assert len(got) == 20
    expected_top = sorted(want.items(), key=lambda kv: (-kv[1][2], kv[0]))[:20]
    assert [g["doc_id"] for g in got] == [d for d, _ in expected_top]
    for g in got:
        rd, rs, s = want[g["doc_id"]]
        assert (g["dense_rank"], g["sparse_rank"]) == (rd, rs), g
        assert abs(g["rrf_score"] - s) < 1e-12, g


# ---------- End-to-end curation pipeline (l5j) ----------


def test_curation_funnel_invariants(spark):
    """l5j: the funnel must be internally consistent — 8 stages in
    pipeline order, docs_in of stage 1 equals the train-slice size,
    each stage's docs_out = docs_in - docs_removed = next stage's
    docs_in, token mass is non-increasing, and the released docs_out
    equals the number of documents no stage flags (recomputed from
    the per-doc l5g verdict superset: every l5g-flagged doc is also
    removed by l5j, since l5j's stages are a superset with identical
    shared-fragment rules)."""
    from big_data_programming_spark.registry import queries

    rows = sorted(
        queries()["l5j_curation_pipeline"](spark, SMOKE_SF_DIR).collect(),
        key=lambda r: r["stage_ord"],
    )
    assert [r["stage"] for r in rows] == [
        "url_dup",
        "exact_dup",
        "bad_length",
        "low_stopword",
        "low_quality",
        "near_dup_simhash",
        "contaminated_ngram",
        "contaminated_semantic",
    ]
    n_train = (
        load(spark, SMOKE_SF_DIR, "documents")
        .filter(F.col("doc_id") % 13 != 0)
        .count()
    )
    assert rows[0]["docs_in"] == n_train
    prev_out, prev_tok = None, None
    for r in rows:
        assert r["docs_out"] == r["docs_in"] - r["docs_removed"], r
        if prev_out is not None:
            assert r["docs_in"] == prev_out, r
            assert r["tokens_out"] <= prev_tok, r
        prev_out, prev_tok = r["docs_out"], r["tokens_out"]
    # the l5g verdict is a 6-stage subset of l5j's 8 rules, so docs it
    # flags are necessarily removed: released <= l5g keeps.
    l5g_keeps = sum(
        1
        for v in queries()["l5g_pipeline_verdict"](spark, SMOKE_SF_DIR).collect()
        if v["verdict"] == "keep"
    )
    assert rows[-1]["docs_out"] <= l5g_keeps
    assert rows[-1]["docs_out"] >= 1  # the fixture releases something


# ---------- Trigram stupid backoff / incremental MinHash / drift ----------


def test_trigram_backoff_branch_accounting(spark):
    """l5e5: branch counts partition the trigram stream per doc, only
    eval-slice docs are scored, and the fixture actually exercises
    both the trigram-hit and bigram-backoff branches (held-out
    scoring's whole point — self-scoring never leaves branch 1)."""
    from big_data_programming_spark.registry import queries

    rows = queries()["l5e5_trigram_backoff_logprob"](spark, SMOKE_SF_DIR).collect()
    assert rows
    tot3 = tot2 = 0
    for r in rows:
        assert r["doc_id"] % 13 == 0
        assert r["n_hit3"] + r["n_backoff2"] + r["n_backoff1"] == r["n_trigrams"], r
        assert r["avg_nll"] > 0
        tot3 += r["n_hit3"]
        tot2 += r["n_backoff2"]
    assert tot3 > 0 and tot2 > 0, (tot3, tot2)


def test_minhash_and_simhash_match_python_reference(docs):
    """The MinHash and SimHash arithmetic against pure Python at
    sf0.001, not against its own DuckDB twin: per doc, the distinct
    space-split tokens -> md5 -> 7-hex-digit base hashes -> the
    MINHASH_HASHES minima of (a * h + b) mod 2^31-1 over
    ``_minhash_constants()``; each band's key is its MINHASH_ROWS
    slots joined by '-'; SimHash bit b (first char = bit 0) is 1 iff
    the +1/-1 votes of bit b of the 60-bit (15-hex-digit) token hashes
    sum above zero."""
    import hashlib

    from big_data_programming_spark.operators.dedup import (
        _MINHASH_PRIME,
        MINHASH_HASHES,
        MINHASH_ROWS,
        _minhash_constants,
        minhash_bands,
        minhash_signatures,
        simhash,
    )

    consts = _minhash_constants()
    want_sig, want_bands, want_bits = {}, set(), {}
    for r in docs.select("doc_id", "text").collect():
        hexes = [hashlib.md5(t.encode()).hexdigest() for t in set(r["text"].split(" "))]
        base = [int(x[:7], 16) for x in hexes]
        sig = [min((a * h + b) % _MINHASH_PRIME for h in base) for a, b in consts]
        want_sig[r["doc_id"]] = sig
        for j in range(MINHASH_HASHES // MINHASH_ROWS):
            key = "-".join(str(v) for v in sig[j * MINHASH_ROWS:(j + 1) * MINHASH_ROWS])
            want_bands.add((r["doc_id"], j, key))
        h60 = [int(x[:15], 16) for x in hexes]
        want_bits[r["doc_id"]] = "".join(
            "1" if sum(1 if (h >> b) & 1 else -1 for h in h60) > 0 else "0"
            for b in range(16)  # l2b's 16-bit signatures
        )
    assert len(set(map(tuple, want_sig.values()))) > 1  # not a constant signature
    sig = minhash_signatures(docs)
    assert {r["doc"]: list(r["sig"]) for r in sig.collect()} == want_sig
    bands = minhash_bands(sig).collect()
    assert len(bands) == len(want_bands)
    assert set(map(tuple, bands)) == want_bands
    assert {r["doc_id"]: r["simhash_bits"] for r in simhash(docs).collect()} == want_bits


def test_incremental_minhash_screen(spark):
    """lm8: every screened doc is from the new batch, every reported
    match is historical, the match count clears the 12/24 acceptance,
    and dup_of is a REAL >= 12-component signature agreement
    (recomputed from the shared minhash_signatures operator)."""
    from big_data_programming_spark.operators.dedup import minhash_signatures
    from big_data_programming_spark.registry import queries

    rows = queries()["lm8_incremental_minhash_dedup"](spark, SMOKE_SF_DIR).collect()
    assert rows
    sigs = {
        r["doc"]: r["sig"]
        for r in minhash_signatures(load(spark, SMOKE_SF_DIR, "documents")).collect()
    }
    for r in rows:
        assert r["new_doc_id"] % 10 == 9
        assert r["dup_of"] % 10 != 9
        assert 12 <= r["best_matching"] <= 24
        m = sum(
            1
            for a, b in zip(sigs[r["new_doc_id"]], sigs[r["dup_of"]])
            if a == b
        )
        assert m == r["best_matching"], (r, m)


@pytest.mark.parametrize("cap", [None, 50])
def test_incremental_minhash_matches_complete(spark, cap):
    """The incremental screen's whole candidate set, in both engines,
    against a Python reference over the collected signatures: every
    (arrival, history) pair sharing a band key, minus history buckets
    holding more than ``cap`` docs, with ``m`` = the number of equal
    signature slots."""
    from collections import defaultdict

    import duckdb

    from big_data_programming_spark.operators.dedup import (
        MINHASH_HASHES,
        MINHASH_ROWS,
        incremental_minhash_matches,
        incremental_minhash_matches_sql,
        minhash_signatures,
        minhash_signatures_sql,
    )

    sig = minhash_signatures(load(spark, SMOKE_SF_DIR, "documents"))
    sigs = {r["doc"]: list(r["sig"]) for r in sig.collect()}
    bands = range(MINHASH_HASHES // MINHASH_ROWS)

    def key(s, j):
        return j, tuple(s[j * MINHASH_ROWS:(j + 1) * MINHASH_ROWS])

    buckets = defaultdict(set)  # (band, key) -> history docs
    for d, s in sigs.items():
        if d % 10 != 9:
            for j in bands:
                buckets[key(s, j)].add(d)

    def reference(cap):
        out = set()
        for d, s in sigs.items():
            if d % 10 != 9:
                continue
            for j in bands:
                bucket = buckets.get(key(s, j), set())
                if cap is None or len(bucket) <= cap:
                    out |= {(d, h, sum(a == b for a, b in zip(s, sigs[h]))) for h in bucket}
        return out

    want = reference(cap)
    assert want
    if cap is not None:  # the fixture is dense enough for the cap to bite
        assert want < reference(None)
    want = sorted(want)  # one row per candidate pair: duplicates must show
    got = incremental_minhash_matches(
        sig.filter(F.col("doc") % 10 != 9), sig.filter(F.col("doc") % 10 == 9), cap
    ).collect()
    assert sorted(map(tuple, got)) == want
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SMOKE_SF_DIR}/documents.parquet')"
    )
    sql = f"""
WITH {minhash_signatures_sql()},
hist AS (SELECT * FROM sigs WHERE doc % 10 <> 9),
new AS (SELECT * FROM sigs WHERE doc % 10 = 9),
{incremental_minhash_matches_sql(cap)}
SELECT new_doc, hist_doc, m FROM scored"""
    assert sorted(con.execute(sql).fetchall()) == want


def test_contamination_drift_days_partition_corpus(spark):
    """dq9: the 7 day rows partition the train slice, rate deviations
    sum to ~0 by construction, and the fixture is discriminating
    (at least one drifted day and at least one quiet day)."""
    from big_data_programming_spark.registry import queries

    rows = queries()["dq9_contamination_drift"](spark, SMOKE_SF_DIR).collect()
    assert len(rows) == 7
    n_train = (
        load(spark, SMOKE_SF_DIR, "embeddings")
        .filter(F.col("vec_id") % 13 != 0)
        .count()
    )
    assert sum(r["n_docs"] for r in rows) == n_train
    flags = {r["is_drifted"] for r in rows}
    assert flags == {True, False}, rows
    for r in rows:
        assert r["is_drifted"] == (abs(r["rate_dev"]) > 0.05 - 1e-12), r


def test_classifier_gate_consistent_across_queries(spark):
    """Shared-fragment pin: l5g's low_quality flag must equal the
    negation of l5i's keep_quality for every train-slice document —
    the two queries compose the SAME quality_logit fragment, and this
    test fails if they ever fork."""
    from big_data_programming_spark.registry import queries

    keep = {
        r["doc_id"]: r["keep_quality"]
        for r in queries()["l5i_fasttext_quality_gate"](
            spark, SMOKE_SF_DIR
        ).collect()
    }
    rows = queries()["l5g_pipeline_verdict"](spark, SMOKE_SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["low_quality"] == (not keep[r["doc_id"]]), r


def test_quality_weights_literal_is_the_weight_table(spark):
    """The parsed model literal l5i, l5g, l5j, lm10 and st30 attach is
    L5I_WEIGHTS bit for bit, as a non-null array<double>: each literal
    carries the D suffix, without which Spark parses a DECIMAL."""
    import struct

    from pyspark.sql.types import ArrayType, DoubleType

    from big_data_programming_spark.operators.text import L5I_WEIGHTS, quality_weights

    row = spark.range(1).select(quality_weights().alias("wv"))
    assert row.schema["wv"].dataType == ArrayType(DoubleType(), False)
    bits = [struct.pack(">d", w) for w in row.first()["wv"]]
    assert bits == [struct.pack(">d", w) for w in L5I_WEIGHTS]


def test_word_ngrams_match_python_reference(spark):
    """word_ngrams and its DuckDB twin against pure Python for n = 1,
    2, 3, over texts shorter than n, a single token, the empty text
    (one empty token) and a double space (an empty middle token)."""
    import duckdb

    from big_data_programming_spark.operators.text import word_ngrams, word_ngrams_sql

    texts = ["", "a", "a b", "a  b", "the cat sat on the mat"]

    def ref(text: str, n: int) -> list[str]:
        t = text.split(" ")
        return [" ".join(t[i : i + n]) for i in range(len(t) - n + 1)]

    df = spark.createDataFrame([(s,) for s in texts], "text string").select(
        "text", F.split("text", " ").alias("t")
    )
    con = duckdb.connect()
    toks_sql = "string_split(s, ' ')"
    for n in (1, 2, 3):
        want = {s: ref(s, n) for s in texts}
        got = df.select("text", word_ngrams("t", n)).collect()
        assert dict(map(tuple, got)) == want, n
        sql = f"SELECT s, {word_ngrams_sql(toks_sql, n)} FROM unnest(?) AS u(s)"
        assert dict(con.execute(sql, [texts]).fetchall()) == want, n


def test_capped_minhash_fanout(spark):
    """lm8b: the hot-bucket ceiling only ever REMOVES candidates —
    flagged docs are a subset of lm8's, per-doc match/dup counts
    never exceed lm8's — and on the pathologically dense fixture the
    cap actually bites (strictly fewer qualifying pairs), turning
    SCALING.md's lm8 density note into enforced behavior."""
    from big_data_programming_spark.registry import queries

    q = queries()
    full = {
        r["new_doc_id"]: r
        for r in q["lm8_incremental_minhash_dedup"](spark, SMOKE_SF_DIR).collect()
    }
    capped = {
        r["new_doc_id"]: r
        for r in q["lm8b_capped_minhash_dedup"](spark, SMOKE_SF_DIR).collect()
    }
    assert capped and set(capped) <= set(full)
    for d, r in capped.items():
        assert r["n_near_dups"] <= full[d]["n_near_dups"], d
        assert r["best_matching"] <= full[d]["best_matching"], d
    assert sum(r["n_near_dups"] for r in capped.values()) < sum(
        r["n_near_dups"] for r in full.values()
    )


def test_incremental_curation_funnel_accounting(spark):
    """lm10: the funnel's chaining conserves documents (docs_out of
    stage i == docs_in of stage i+1, removed + out == in), stage 1
    sees the entire arrival batch, token mass never increases down
    the funnel, and the fixture is discriminating (the in-row gates
    and the history near-dup screen each remove something)."""
    from big_data_programming_spark.queries.llm_mixing import _LM10_STAGES
    from big_data_programming_spark.registry import queries

    rows = sorted(
        queries()["lm10_incremental_curation_funnel"](
            spark, SMOKE_SF_DIR
        ).collect(),
        key=lambda r: r["stage_ord"],
    )
    assert [r["stage"] for r in rows] == list(_LM10_STAGES)
    arrivals = (
        load(spark, SMOKE_SF_DIR, "documents")
        .filter(F.col("doc_id") % 10 == 9)
        .count()
    )
    assert rows[0]["docs_in"] == arrivals
    for a, b in zip(rows, rows[1:]):
        assert a["docs_in"] - a["docs_removed"] == a["docs_out"], a
        assert a["docs_out"] == b["docs_in"], (a, b)
        assert a["tokens_out"] >= b["tokens_out"], (a, b)
    by = {r["stage"]: r for r in rows}
    assert by["near_dup_minhash_hist"]["docs_removed"] > 0
    assert sum(by[s]["docs_removed"] for s in
               ("bad_length", "low_stopword", "low_quality")) > 0


def test_incremental_funnel_cap_only_relaxes_near_dup_stage(spark):
    """lm10 + lm8b composition (round 9): threading the hot-bucket
    ceiling into the incremental funnel's fuzzy screen changes ONLY
    the final near-dup stage, and only downward — every earlier stage
    (exact-hash, length, stopword, classifier) is identical to the
    uncapped funnel, the capped stage removes no more docs than the
    uncapped one, and on the pathologically dense fixture it still
    removes > 0 (the cap bounds fan-out, it does not disable the
    screen)."""
    from big_data_programming_spark.queries.llm_mixing import (
        _LM10_STAGES,
        _LM8B_CAP,
        _lm10_funnel,
    )

    capped = {
        r["stage"]: r
        for r in _lm10_funnel(spark, SMOKE_SF_DIR, cap=_LM8B_CAP).collect()
    }
    full = {
        r["stage"]: r
        for r in _lm10_funnel(spark, SMOKE_SF_DIR, cap=None).collect()
    }
    for s in _LM10_STAGES[:-1]:
        assert capped[s] == full[s], (s, capped[s], full[s])
    nd_c, nd_f = (
        capped["near_dup_minhash_hist"],
        full["near_dup_minhash_hist"],
    )
    assert 0 < nd_c["docs_removed"] <= nd_f["docs_removed"], (nd_c, nd_f)
    assert nd_c["docs_out"] >= nd_f["docs_out"], (nd_c, nd_f)
    assert nd_c["tokens_out"] >= nd_f["tokens_out"], (nd_c, nd_f)


def test_trained_quality_weights_learn(spark):
    """l5k: the in-engine training loop actually LEARNS — the model
    artifact has the full 256-bucket dimension plus the bucket=-1
    intercept, step 2 moved the weights (w_final != w_step1 for most
    populated buckets), and scoring the training corpus with the
    FINAL weights separates the weak-label classes in the right
    direction (mean logit of lang='en' docs above the rest — the
    CCNet train-fit property; the synthetic corpus's lang/token
    signal is weak, so only direction is asserted, not margin)."""
    from big_data_programming_spark.operators.text import (
        unigram_bigram_features,
        tokenize,
    )
    from big_data_programming_spark.registry import queries

    rows = queries()["l5k_train_quality_weights"](spark, SMOKE_SF_DIR).collect()
    assert len(rows) == 257
    by = {r["bucket"]: r for r in rows}
    assert -1 in by and by[-1]["n_docs"] > 0
    pop = [r for r in rows if r["bucket"] >= 0 and r["n_docs"] > 0]
    moved = sum(1 for r in pop if r["weight_final"] != r["weight_step1"])
    assert moved > len(pop) * 0.9, (moved, len(pop))

    w = {r["bucket"]: r["weight_final"] for r in pop}
    bias = by[-1]["weight_final"]
    d = load(spark, SMOKE_SF_DIR, "documents")
    fx = d.select(
        "doc_id",
        (F.col("lang") == "en").alias("is_en"),
        tokenize(F.col("text")).alias("toks"),
    ).select("doc_id", "is_en", unigram_bigram_features("toks").alias("fs"))
    bucket = (
        F.conv(F.substring(F.md5(F.col("f").cast("binary")), 1, 8), 16, 10)
        .cast("long")
        % 256
    )
    wmap = F.create_map(
        *[F.lit(v) for kv in w.items() for v in kv]
    )
    z = (
        fx.select(
            "doc_id", "is_en", F.size("fs").alias("nf"), F.explode("fs").alias("f")
        )
        .select("doc_id", "is_en", "nf", bucket.alias("b"))
        .withColumn("wb", F.coalesce(wmap[F.col("b")], F.lit(0.0)))
        .groupBy("doc_id", "is_en")
        .agg((F.sum("wb") / F.first("nf") + F.lit(bias)).alias("z"))
    )
    means = {
        r["is_en"]: r["mz"]
        for r in z.groupBy("is_en").agg(F.avg("z").alias("mz")).collect()
    }
    assert means[True] > means[False], means


def test_bpe_merge_learning_matches_reference(spark):
    """l4m3: the in-engine BPE trainer reproduces a from-scratch pure
    Python reference implementation of Sennrich et al. 2016 EXACTLY —
    all 8 rounds: same pair picked (count DESC, pair ASC tie-break),
    same merged symbol, same weighted count. This validates the whole
    distributed machinery (word-frequency weighting, adjacent-pair
    extraction, argmax, the left-to-right non-overlapping fold apply)
    against an independent restatement of the algorithm, not against
    the oracle that shares its fragments."""
    from big_data_programming_spark.registry import queries

    rows = sorted(
        queries()["l4m3_bpe_merge_learning"](spark, SMOKE_SF_DIR).collect(),
        key=lambda r: r["merge_ord"],
    )
    assert [r["merge_ord"] for r in rows] == list(range(1, 9))

    wc = {}
    for r in (
        load(spark, SMOKE_SF_DIR, "documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .count()
        .collect()
    ):
        wc[r["w"]] = r["count"]
    syms = {w: tuple(list(w) + ["</w>"]) for w in wc}
    expected = []
    for _ in range(8):
        pc = {}
        for w, c in wc.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pair = (s[i], s[i + 1])
                pc[pair] = pc.get(pair, 0) + c
        (a, b), cnt = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0] + " " + kv[0][1])
        )
        expected.append((a + " " + b, a + b, cnt))
        for w in syms:
            s, out, i = syms[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = tuple(out)
    got = [(r["pair"], r["merged"], r["pair_count"]) for r in rows]
    assert got == expected, (got, expected)


def test_bpe_twins_agree_on_degenerate_words(spark):
    """The bpe_* Spark/DuckDB twin pairs, and the symbol-pair kernel
    (word_ngrams at n = 2 over the split symbol string), agree on the
    degenerate words the fixtures never produce (r8 advice findings):
    the EMPTY word (whose symbol string ' </w>' contains a legal empty
    symbol), a single-char word, and fully-merged SINGLE-SYMBOL
    strings — where an old sequence(1, 0)-based pair walk crashed
    Spark-side (INVALID_ARRAY_INDEX_IN_ELEMENT_AT; Spark's sequence
    steps DOWN when start > stop) while the DuckDB twin returned []. Also pins
    the apply-fold's NULL sentinel: an empty first symbol must survive
    the fold, not be swallowed by an acc == '' "first element" test."""
    import duckdb

    from big_data_programming_spark.operators.text import (
        bpe_apply_merge,
        bpe_apply_merge_sql,
        bpe_symbolize,
        bpe_symbolize_sql,
        word_ngrams,
        word_ngrams_sql,
    )

    words = ["", "a", "the", "aa", "aaa", "abab"]
    merges = [("a", "a"), ("the", "</w>"), ("", "</w>"), ("a", "b")]
    df = spark.createDataFrame([(w,) for w in words], ["word"])
    pairs = word_ngrams("split(sym, ' ')", 2)
    cols = ["word", bpe_symbolize("word").alias("sym")]
    for i, (a, b) in enumerate(merges):
        cols.append(
            bpe_apply_merge(bpe_symbolize("word"), F.lit(a), F.lit(b)).alias(
                f"m{i}"
            )
        )
    got = {
        r["word"]: r.asDict()
        for r in df.select(*cols).withColumn("pairs", pairs).collect()
    }

    def q(s: str) -> str:
        return "'" + s + "'"

    con = duckdb.connect()
    for w in words:
        (sym_d,) = con.execute(f"SELECT {bpe_symbolize_sql(q(w))}").fetchone()
        split_d = f"string_split({q(sym_d)}, ' ')"
        (pairs_d,) = con.execute(f"SELECT {word_ngrams_sql(split_d, 2)}").fetchone()
        s = got[w]
        assert s["sym"] == sym_d, (w, s["sym"], sym_d)
        assert list(s["pairs"]) == list(pairs_d), (w, s["pairs"], pairs_d)
        for i, (a, b) in enumerate(merges):
            (m_d,) = con.execute(
                f"SELECT {bpe_apply_merge_sql(q(sym_d), q(a), q(b))}"
            ).fetchone()
            assert s[f"m{i}"] == m_d, (w, (a, b), s[f"m{i}"], m_d)

    # the exact r8-advice crash case: a fully merged single-symbol string
    one = (
        spark.createDataFrame([("the</w>",)], ["sym"])
        .select(pairs.alias("p"))
        .collect()
    )
    assert list(one[0]["p"]) == []


def test_decimal_canon_twins_agree(spark):
    """The decimal-sum canon (functions/canonical.py) on both engines
    against a Python Decimal reference: grouped dsum/davg and a running
    window dsum on Spark, grouped dsum_sql/davg_sql and the same window
    on DuckDB. Group ``a`` is the case DuckDB's direct DECIMAL->DOUBLE
    cast gets 1 ulp wrong (289473120.03000003): only the VARCHAR route
    returns the correctly rounded double. A NULL is skipped, an
    all-NULL group sums (and averages) to NULL, negatives cancel
    exactly. Group ``e`` needs each row's double->DECIMAL(38,10) step
    to round the shortest repr, as Spark's cast does (DuckDB's direct
    cast turns -1234567.89 into -1234567.8899999998); group ``f`` holds
    a magnitude below 1e-11, which rounds to 0 on both engines. The
    per-row cast ``dec_sql`` alone equals Spark's ``CAST(v AS
    DECIMAL(38,10))`` on every row, -1234567.89 and 289473120.03
    included."""
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb
    from pyspark.sql.window import Window

    from big_data_programming_spark.functions.canonical import (
        davg,
        davg_sql,
        dec_sql,
        dsum,
        dsum_sql,
    )

    rows = [
        ("a", 1, 289473120.0), ("a", 2, 0.03),
        ("b", 1, 1.5), ("b", 2, None), ("b", 3, 2.25),
        ("c", 1, None), ("c", 2, None),
        ("d", 1, -0.1), ("d", 2, -12345.67), ("d", 3, 0.3),
        ("e", 1, -0.1), ("e", 2, -1234567.89), ("e", 3, 0.3),
        ("f", 1, 6.4e-12), ("f", 2, 0.25),
    ]

    def dec(v: float) -> Decimal:
        return Decimal(repr(v)).quantize(Decimal("1e-10"), ROUND_HALF_UP)

    want_sum, want_avg, want_run = {}, {}, {}
    for g in sorted({r[0] for r in rows}):
        vals = [v for k, _, v in sorted(rows) if k == g]
        nn = [dec(v) for v in vals if v is not None]
        want_sum[g] = float(sum(nn)) if nn else None
        want_avg[g] = float(sum(nn)) / len(nn) if nn else None
        acc, seen = Decimal(0), False
        for i, v in enumerate(vals, 1):
            if v is not None:
                acc, seen = acc + dec(v), True
            want_run[(g, i)] = float(acc) if seen else None
    assert want_sum["a"] == 289473120.03

    df = spark.createDataFrame(rows, "g string, i int, v double")
    got = {
        r["g"]: (r["s"], r["m"])
        for r in df.groupBy("g")
        .agg(dsum("v").alias("s"), davg("v").alias("m"))
        .collect()
    }
    assert got == {g: (want_sum[g], want_avg[g]) for g in want_sum}, got
    w = Window.partitionBy("g").orderBy("i").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    got_run = {
        (r["g"], r["i"]): r["s"]
        for r in df.select("g", "i", dsum("v", over=w).alias("s")).collect()
    }
    assert got_run == want_run, got_run

    con = duckdb.connect()
    values = ", ".join(
        f"('{g}', {i}, {'NULL' if v is None else repr(v)}::DOUBLE)"
        for g, i, v in rows
    )
    con.execute(f"CREATE TABLE t AS SELECT * FROM (VALUES {values}) x(g, i, v)")
    got_d = {
        g: (s, m)
        for g, s, m in con.execute(
            f"SELECT g, {dsum_sql('v')}, {davg_sql('v')} FROM t GROUP BY g"
        ).fetchall()
    }
    assert got_d == {g: (want_sum[g], want_avg[g]) for g in want_sum}, got_d
    frame = "PARTITION BY g ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    got_run_d = {
        (g, i): s
        for g, i, s in con.execute(
            f"SELECT g, i, {dsum_sql('v', over=frame)} FROM t"
        ).fetchall()
    }
    assert got_run_d == want_run, got_run_d

    per_row = rows + [("g", 1, 289473120.03)]
    spark_dec = {
        (r["g"], r["i"]): r["d"]
        for r in spark.createDataFrame(per_row, "g string, i int, v double")
        .selectExpr("g", "i", "CAST(v AS DECIMAL(38,10)) AS d")
        .collect()
    }
    con.execute("INSERT INTO t VALUES ('g', 1, 289473120.03::DOUBLE)")
    duck_dec = {
        (g, i): d
        for g, i, d in con.execute(f"SELECT g, i, {dec_sql('v')} FROM t").fetchall()
    }
    assert duck_dec == spark_dec, duck_dec
    assert spark_dec[("e", 2)] == Decimal("-1234567.89")


def test_trained_gate_composes_train_and_apply(spark):
    """l5k2 (round 9; prior-shift fix round 10): the trained gate is
    the l5k artifact APPLIED — the weak-label classes separate through
    the composed query (mean trained logit of lang='en' docs above the
    rest, the same CCNet train-fit direction the l5k model test pins),
    the absolute verdict is the CLASS-PRIOR-CORRECTED rule
    logit > ln(n_en/n_rest) (Elkan'01 — the raw logit > 0 cut was
    degenerate: the imbalanced-trained intercept absorbs the prior and
    kept zero fixture docs, r9 verdict what's-wrong #2), and BOTH
    verdicts now split the fixture strictly two ways while disagreeing
    with each other somewhere (two genuinely distinct boundaries)."""
    import math

    from big_data_programming_spark.registry import queries

    out = queries()["l5k2_trained_quality_gate"](spark, SMOKE_SF_DIR)
    lang = load(spark, SMOKE_SF_DIR, "documents").select("doc_id", "lang")
    j = out.join(lang, "doc_id")
    rows = j.collect()
    assert rows
    n_en = sum(1 for r in rows if r["lang"] == "en")
    thr = round(math.log(n_en / (len(rows) - n_en)), 8)
    for r in rows:
        assert r["keep_quality"] == (r["trained_logit"] > thr), (r, thr)
    kept = sum(1 for r in rows if r["keep_quality"])
    assert 0 < kept < len(rows), kept  # the r10 non-degeneracy contract
    above = sum(1 for r in rows if r["above_corpus_mean"])
    assert 0 < above < len(rows), above
    assert any(r["keep_quality"] != r["above_corpus_mean"] for r in rows)
    en = [r["trained_logit"] for r in rows if r["lang"] == "en"]
    rest = [r["trained_logit"] for r in rows if r["lang"] != "en"]
    assert en and rest
    assert sum(en) / len(en) > sum(rest) / len(rest)


def test_learned_bpe_encode_conserves_tokens(spark):
    """l4m4 (round 9): doc-level and vocabulary-level accounting of
    the learned-BPE encode agree exactly — sum over docs of
    n_bpe_tokens == sum over the trained vocabulary of cnt * n_sym,
    sum of n_words == the corpus token count, and every doc satisfies
    n_words <= n_bpe_tokens (>= 1 symbol per word) with
    symbols_per_word strictly below chars-per-word + 1 (the 8 merges
    actually compressed something somewhere)."""
    from big_data_programming_spark.queries.llm_text import _l4m3_train
    from big_data_programming_spark.registry import queries

    rows = queries()["l4m4_learned_bpe_encode"](spark, SMOKE_SF_DIR).collect()
    assert rows
    total_words = sum(r["n_words"] for r in rows)
    total_bpe = sum(r["n_bpe_tokens"] for r in rows)
    corpus_tokens = (
        load(spark, SMOKE_SF_DIR, "documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .count()
    )
    assert total_words == corpus_tokens
    _, vocab = _l4m3_train(spark, SMOKE_SF_DIR)
    vocab_total = (
        vocab.select(
            (F.col("cnt") * F.size(F.split("sym", " "))).alias("t")
        )
        .agg(F.sum("t"))
        .collect()[0][0]
    )
    assert total_bpe == vocab_total, (total_bpe, vocab_total)
    for r in rows:
        assert r["n_words"] <= r["n_bpe_tokens"], r
    # chars+1 symbols per word is the 0-merge ceiling; 8 merges must
    # have compressed the corpus strictly below it in aggregate.
    ceiling = (
        load(spark, SMOKE_SF_DIR, "documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .agg(F.sum(F.length("w") + 1))
        .collect()[0][0]
    )
    assert total_bpe < ceiling, (total_bpe, ceiling)
