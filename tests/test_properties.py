"""Generative property tests (hypothesis) for the algorithmic
operators: random inputs checked against plain-Python references.
Example counts are small — each example is a Spark job — but the
inputs reach corners the fixtures never produce (empty groups,
single-node graphs, all-identical docs, adversarial gaps)."""

from __future__ import annotations

import datetime
from itertools import combinations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from big_data_programming_spark.operators.clustering import connected_components
from big_data_programming_spark.operators.dedup import (
    jaccard_pairs,
    ngram_containment_pairs,
    ngram_jaccard_pairs,
)
from big_data_programming_spark.operators.sessions import sessionize
from big_data_programming_spark.operators.skew import salted_sum_count

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


# ---------- sessionize vs Python reference ----------


@st.composite
def event_traces(draw):
    n_users = draw(st.integers(1, 3))
    out = []
    eid = 0
    for u in range(n_users):
        n = draw(st.integers(1, 8))
        t = 0
        for _ in range(n):
            t += draw(st.integers(0, 4000))  # seconds between events
            out.append((eid, u, t))
            eid += 1
    return out


def _sessions_ref(trace, gap_s):
    """Reference: per user, sorted by ts, split when gap > gap_s."""
    by_user: dict[int, list[int]] = {}
    for _, u, t in trace:
        by_user.setdefault(u, []).append(t)
    sessions = {}
    for u, times in by_user.items():
        times.sort()
        sid, count = 0, {}
        prev = None
        for t in times:
            if prev is None or t - prev > gap_s:
                sid += 1
            count[sid] = count.get(sid, 0) + 1
            prev = t
        sessions[u] = count
    return {(u, s): n for u, c in sessions.items() for s, n in c.items()}


@given(trace=event_traces())
@settings(**SETTINGS)
def test_sessionize_matches_reference(spark, trace):
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (eid, u, base + datetime.timedelta(seconds=t), 1.0) for eid, u, t in trace
    ]
    e = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp_ntz, value double"
    )
    got = {
        (r.user_id, r.session_id): r.n_events
        for r in sessionize(e, gap_minutes=30).collect()
    }
    assert got == _sessions_ref(trace, gap_s=30 * 60)


# ---------- set-overlap pairs vs Python reference ----------


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=6).map(
            lambda toks: " ".join(toks)
        ),
        min_size=2,
        max_size=6,
    ),
    n=st.integers(2, 5),
)
@settings(**SETTINGS)
def test_jaccard_pairs_match_reference(spark, docs, n):
    """Token-set Jaccard and char-n-gram Jaccard and containment
    against Python set references: exactly the pairs sharing >= 1
    element, with the exact score. A text shorter than ``n`` has no
    n-grams, so it must be in no n-gram pair (``sequence(1, 0)`` counts
    down, so a missing length filter would invent grams for it)."""
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    tokens = [set(d.split(" ")) for d in docs]
    grams = [{d[i : i + n] for i in range(len(d) - n + 1)} for d in docs]
    cases = (
        (jaccard_pairs(df, threshold=0.0), tokens, "jaccard"),
        (ngram_jaccard_pairs(df, threshold=0.0, n=n), grams, "jaccard"),
        (ngram_containment_pairs(df, threshold=0.0, n=n), grams, "containment"),
    )
    for pairs, sets, score in cases:
        got = {(r.doc_a, r.doc_b): r[score] for r in pairs.collect()}
        want = {}
        for i, j in combinations(range(len(docs)), 2):
            inter = len(sets[i] & sets[j])
            if inter:
                if score == "jaccard":
                    want[(i, j)] = inter / len(sets[i] | sets[j])
                else:
                    want[(i, j)] = inter / min(len(sets[i]), len(sets[j]))
        assert got.keys() == want.keys(), (score, n, docs)
        for pair, v in want.items():
            assert got[pair] == pytest.approx(v, abs=1e-12), (score, n, docs, pair)


# ---------- connected components vs union-find ----------


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=15,
    )
)
@settings(**SETTINGS)
def test_connected_components_match_union_find(spark, edges):
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.node: r.component for r in connected_components(df).collect()}

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}
    assert got == want


# ---------- degree-oriented triangles vs brute-force reference ----------


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1,
        max_size=20,
    )
)
@settings(**SETTINGS)
def test_triangle_counts_match_bruteforce(spark, edges):
    """The round-10 degree-ordered orientation must not change WHAT is
    counted, only how the wedge work distributes: per-node counts on
    random multigraphs (duplicates, self-loops, both directions — all
    of which canonical_undirected must absorb) equal a brute-force
    itertools reference over the deduped undirected edge set. Random
    graphs reach orientation corners the fixtures don't: degree ties
    broken by id, hubs whose id sorts low/high, disconnected blobs."""
    from itertools import combinations

    from big_data_programming_spark.operators.graph import triangle_counts

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.n_triangles for r in triangle_counts(df).collect()}

    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nodes = {n for e in und for n in e}
    want: dict[int, int] = {}
    for a, b, c in combinations(sorted(nodes), 3):
        if {(a, b), (a, c), (b, c)} <= und:
            for n in (a, b, c):
                want[n] = want.get(n, 0) + 1
    assert got == want


# ---------- salted aggregation == plain aggregation ----------


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False),
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_salted_agg_equals_plain_agg(spark, rows):
    df = spark.createDataFrame(rows, "k string, v double")
    got = {
        r.k: (r.n_rows, r.total)
        for r in salted_sum_count(df, "k", "v", n_salts=4).collect()
    }
    want = {
        r.k: (r.n, r.s)
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(38,10)")).cast("double").alias("s"),
        )
        .collect()
    }
    assert got == want


# ---------- URL canonicalization (l2j / X93) ----------

_HOSTWORD = st.from_regex(r"[a-z][a-z0-9]{0,8}", fullmatch=True)
_PATHSEG = st.from_regex(r"[a-z0-9]{1,6}", fullmatch=True)


@given(
    host=_HOSTWORD,
    segs=st.lists(_PATHSEG, min_size=0, max_size=3),
    scheme=st.sampled_from(["http://", "https://"]),
    www=st.sampled_from(["", "www.", "www.www."]),
    port=st.sampled_from(["", ":443", ":80"]),
    query=st.sampled_from(
        [
            "",
            "?utm_source=x&utm_medium=y",  # tracking-only → drops entirely
            "?utm_source=x&q=1",  # leading tracking + kept param → '?q=1'
            "?q=1&utm_source=x",  # trailing tracking → '?q=1'
            "?q=1",  # kept param, no tracking
        ]
    ),
    frag=st.booleans(),
    slash=st.booleans(),
)
@settings(**SETTINGS)
def test_url_canonicalization_idempotent_and_variant_invariant(
    spark, host, segs, scheme, www, port, query, frag, slash
):
    """Every surface decoration of the same logical URL must collapse
    to one canonical key — including a leading utm_* param handing its
    '?' to a kept successor — and applying the canonicalizer twice
    must be a no-op (idempotence: re-canonicalizing an already-clean
    corpus is safe). The www strategy includes the doubled prefix that
    broke the single-strip rule."""
    from big_data_programming_spark.operators.text import canonicalize_url

    path = "/" + "/".join(segs) if segs else ""
    kept_query = "?q=1" if "q=1" in query else ""
    base = f"{host}.example.com{path}"
    decorated = (
        scheme
        + www
        + host
        + ".example.com"
        + port
        + path
        + query
        + ("#frag" if frag else "")
        + ("/" if slash and path else "")
    )
    df = spark.createDataFrame([(base + kept_query,), (decorated,)], ["u"])
    rows = df.select(
        canonicalize_url(F.col("u")).alias("c1"),
    ).withColumn("c2", canonicalize_url(F.col("c1"))).collect()
    canon_base, canon_dec = rows[0]["c1"], rows[1]["c1"]
    assert canon_base == canon_dec, (base, decorated, canon_base, canon_dec)
    for r in rows:
        assert r["c2"] == r["c1"], ("not idempotent", r["c1"], r["c2"])


# ---------- winnowing guarantee (l2k) ----------


@st.composite
def shared_run_docs(draw):
    """Two docs sharing one token run of length >= w+k-1 = 11 at
    independently random offsets, with disjoint filler vocabularies
    (so the run is the ONLY possible gram overlap)."""
    run_len = draw(st.integers(11, 16))
    run = [f"r{i}" for i in range(run_len)]
    pre1 = draw(st.integers(0, 9))
    suf1 = draw(st.integers(0, 9))
    pre2 = draw(st.integers(0, 9))
    suf2 = draw(st.integers(0, 9))
    d1 = [f"a{i}" for i in range(pre1)] + run + [f"A{i}" for i in range(suf1)]
    d2 = [f"b{i}" for i in range(pre2)] + run + [f"B{i}" for i in range(suf2)]
    return " ".join(d1), " ".join(d2)


@given(docs=shared_run_docs())
@settings(**SETTINGS)
def test_winnowing_guarantee_any_alignment(spark, docs):
    """Schleimer et al. 2003's detection theorem, probed generatively:
    whatever the offsets of a shared run of >= w+k-1 tokens, BOTH
    documents carry at least one duplicated fingerprint — the
    content-defined-selection property a fixed sampling grid lacks."""
    from big_data_programming_spark.operators.dedup import winnowed_span_stats

    t1, t2 = docs
    df = spark.createDataFrame([(1, t1), (2, t2)], ["doc_id", "text"])
    out = {
        r["doc_id"]: r["n_dup_fingerprints"]
        for r in winnowed_span_stats(df).collect()
    }
    assert out[1] >= 1 and out[2] >= 1, (out, t1, t2)


@given(docs=shared_run_docs())
@settings(**SETTINGS)
def test_winnowed_extents_cover_shared_run(spark, docs):
    """l2k2's extents contract, probed generatively: whatever the
    offsets of a shared run of >= w+k-1 tokens, BOTH documents report
    exactly ONE span (w < k chains a run's marks together; disjoint
    filler vocabularies mean nothing else can be marked), that span
    overlaps the planted run, and it never overshoots the run by more
    than w+k-2 tokens on either side (the documented edge slack)."""
    from big_data_programming_spark.operators.dedup import (
        WINNOW_K as k,
        WINNOW_W as w,
        winnowed_span_extents,
    )

    t1, t2 = docs
    run_len = sum(1 for tok in t1.split(" ") if tok.startswith("r"))
    starts = {  # 1-based planted-run start per doc
        1: next(i for i, tok in enumerate(t1.split(" "), 1) if tok.startswith("r")),
        2: next(i for i, tok in enumerate(t2.split(" "), 1) if tok.startswith("r")),
    }
    df = spark.createDataFrame([(1, t1), (2, t2)], ["doc_id", "text"])
    spans = {}
    for r in winnowed_span_extents(df).collect():
        spans.setdefault(r["doc_id"], []).append((r["span_start"], r["span_end"]))
    for doc in (1, 2):
        assert len(spans.get(doc, [])) == 1, (spans, t1, t2)
        s, e = spans[doc][0]
        run_s, run_e = starts[doc], starts[doc] + run_len - 1
        assert s <= run_e and e >= run_s, ("no overlap", spans, t1, t2)
        assert s >= run_s - (w + k - 2), ("front overshoot", spans, t1, t2)
        assert e <= run_e + (w + k - 2), ("back overshoot", spans, t1, t2)


# ---------- SemDeDup vs Python reference (l2m) ----------


def _ref_semdedup(rows, k, th):
    """Plain-Python replica: same left-to-right cosine fold, same
    HALF_UP 8 dp rounding, same argmax/tie and loser rules."""
    import decimal
    import math

    def cos(a, b):
        d = 0.0
        for x, y in zip(a, b):
            d += x * y
        na = 0.0
        for x in a:
            na += x * x
        nb = 0.0
        for y in b:
            nb += y * y
        return d / (math.sqrt(na) * math.sqrt(nb))

    def r8(x):
        return float(
            decimal.Decimal(x).quantize(
                decimal.Decimal("1e-8"), rounding=decimal.ROUND_HALF_UP
            )
        )

    seeds = sorted(rows)[:k]
    cents = [(i + 1, v) for i, (_, v) in enumerate(seeds)]
    asg = {}
    for vid, v in rows:
        c, negcid = max((cos(v, cv), -cid) for cid, cv in cents)
        asg[vid] = (-negcid, r8(c))
    drops = set()
    ids = sorted(a for a, _ in rows)
    vecs = dict(rows)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if asg[a][0] != asg[b][0] or cos(vecs[a], vecs[b]) < th:
                continue
            ca, cb = asg[a][1], asg[b][1]
            drops.add(a if ca > cb else b if cb > ca else max(a, b))
    return {
        vid: (asg[vid][0], asg[vid][1], vid not in drops) for vid, _ in rows
    }


@st.composite
def vector_sets(draw):
    n = draw(st.integers(3, 7))
    rows = []
    for vid in range(n):
        v = draw(
            st.lists(
                st.integers(0, 2).map(float), min_size=4, max_size=4
            ).filter(lambda xs: any(xs))
        )
        rows.append((vid, v))
    return rows


@given(rows=vector_sets())
@settings(**SETTINGS)
def test_semdedup_matches_reference(spark, rows):
    """Full-output equivalence against the Python reference on random
    small-integer vectors (which produce exact cosine ties, scaled
    duplicates, and single-member clusters the fixture never does):
    cluster assignment, rounded centroid cosine, and keep flags."""
    from big_data_programming_spark.operators.similarity import semdedup

    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {
        r["vec_id"]: (r["cluster_id"], r["cos_centroid"], r["is_kept"])
        for r in semdedup(df, n_clusters=2, threshold=0.9, materialize=False).collect()
    }
    want = _ref_semdedup(rows, k=2, th=0.9)
    assert set(got) == set(want)
    for vid in got:
        assert got[vid][0] == want[vid][0], (vid, got[vid], want[vid])
        assert abs(got[vid][1] - want[vid][1]) < 1e-12, (vid, got, want)
        assert got[vid][2] == want[vid][2], (vid, got[vid], want[vid])


# ---------- BPE fold / symbolize twins vs Python reference ----------
# The round-8 advice findings were exactly this operator family's edge
# cases (single-symbol pair walk, empty-word symbolize, empty-symbol
# fold sentinel). Fixed-case probes exist in test_operators; these
# generative checks drive the THREE implementations — the Spark
# aggregate-fold, the DuckDB list_reduce twin, and a plain-Python
# greedy reference — over random symbol strings including empty
# tokens, repeats, and chainable merges.

_BPE_TOKS = ["a", "b", "ab", "aa", "</w>"]


@st.composite
def bpe_symbol_strings(draw):
    toks = draw(
        st.lists(st.sampled_from(_BPE_TOKS + [""]), min_size=1, max_size=6)
    )
    return " ".join(toks)


def _bpe_merge_ref(sym: str, a: str, b: str) -> str:
    """Greedy left-to-right non-overlapping merge (Sennrich apply):
    after a merge the new tail symbol is a||b, which participates as
    the next pair's LEFT side only if a||b == a — the same chaining
    all three engine implementations exhibit by construction."""
    out: list[str] = []
    for t in sym.split(" "):
        if out and out[-1] == a and t == b:
            out[-1] = a + b
        else:
            out.append(t)
    return " ".join(out)


@given(
    sym=bpe_symbol_strings(),
    rule=st.tuples(st.sampled_from(_BPE_TOKS), st.sampled_from(_BPE_TOKS)),
)
@settings(**SETTINGS)
def test_bpe_apply_merge_three_way(spark, sym, rule):
    import duckdb

    from big_data_programming_spark.operators.text import (
        bpe_apply_merge,
        bpe_apply_merge_sql,
    )

    a, b = rule
    ref = _bpe_merge_ref(sym, a, b)
    got_spark = (
        spark.createDataFrame([(sym,)], "sym string")
        .select(bpe_apply_merge(F.col("sym"), F.lit(a), F.lit(b)).alias("m"))
        .collect()[0]["m"]
    )
    sql = bpe_apply_merge_sql("sym", f"'{a}'", f"'{b}'")
    got_duck = (
        duckdb.connect()
        .execute(f"SELECT {sql} FROM (SELECT '{sym}' AS sym)")
        .fetchone()[0]
    )
    assert got_spark == ref, (sym, rule, got_spark, ref)
    assert got_duck == ref, (sym, rule, got_duck, ref)


@given(word=st.text(alphabet="ab", max_size=5))
@settings(**SETTINGS)
def test_bpe_symbolize_and_pairs_cross_engine(spark, word):
    import duckdb

    from big_data_programming_spark.operators.text import (
        BPE_EOW,
        bpe_symbolize,
        bpe_symbolize_sql,
        word_ngrams,
        word_ngrams_sql,
    )

    symbols = (list(word) if word else [""]) + [BPE_EOW]
    ref_sym = " ".join(symbols)
    ref_pairs = [
        f"{x} {y}" for x, y in zip(symbols, symbols[1:])
    ]
    row = (
        spark.createDataFrame([(word,)], "w string")
        .select(bpe_symbolize("w").alias("sym"))
        .select("sym", word_ngrams("split(sym, ' ')", 2).alias("pairs"))
        .collect()[0]
    )
    assert row["sym"] == ref_sym, (word, row["sym"], ref_sym)
    assert list(row["pairs"]) == ref_pairs, (word, row["pairs"], ref_pairs)
    con = duckdb.connect()
    word_lit = "'" + word + "'"
    sym_sql = bpe_symbolize_sql(word_lit)
    pairs_sql = word_ngrams_sql(f"string_split({sym_sql}, ' ')", 2)
    d_sym, d_pairs = con.execute(
        f"SELECT {sym_sql}, {pairs_sql}"
    ).fetchone()
    assert d_sym == ref_sym, (word, d_sym, ref_sym)
    assert list(d_pairs) == ref_pairs, (word, d_pairs, ref_pairs)
