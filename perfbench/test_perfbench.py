"""Tests of the benchmark's own code (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess

import pytest

from perfbench import gen, stats, trace
from perfbench.run import CAL_JVM, END_TO_END, MIN_PASSES, PER_LAYER, TRACE_PAIRS, schedule
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TINY = gen.Shape(sf=0.001, documents=60, embeddings=20)


def test_generator_is_deterministic_per_seed(tmp_path):
    a = gen.generate(str(tmp_path / "a"), 7, TINY)
    b = gen.generate(str(tmp_path / "b"), 7, TINY)
    assert a == b
    assert set(a) == set(gen.TABLES)


def test_generator_differs_across_seeds():
    one, two = gen.build_tables(1, TINY), gen.build_tables(2, TINY)
    for t in ("customer", "orders", "lineitem", "events", "documents", "embeddings"):
        assert not one[t].equals(two[t]), t
    # dimension tables carry no randomness
    assert one["region"].equals(two["region"])


def test_generator_matches_package_schemas():
    from big_data_programming_spark.sources.schemas import SCHEMAS

    tables = gen.build_tables(3, TINY)
    for name, table in tables.items():
        assert table.schema.names == SCHEMAS[name].names, name
    docs = tables["documents"].to_pydict()
    assert docs["n_chars"] == [len(t) for t in docs["text"]]
    assert any(t.endswith(" dup") for t in docs["text"])


def test_percentile_nearest_rank():
    xs = [float(i) for i in range(1, 101)]
    assert stats.percentile(xs, 0.5) == 50.0
    assert stats.percentile(xs, 0.9) == 90.0
    assert stats.percentile([3.0], 0.9) == 3.0
    assert stats.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)
    assert stats.lower_quartile([1.0, 2.0, 3.0, 4.0, 5.0]) == 1.5


def test_tail_needs_ten_samples_beyond():
    assert stats.beyond(100, 0.9) == 10
    assert stats.tail_percentile([float(i) for i in range(100)], 0.9) == 89.0
    assert stats.beyond(99, 0.9) == 9
    assert stats.tail_percentile([float(i) for i in range(99)], 0.9) is None
    assert stats.tail_percentile([1.0] * 16, 0.9) is None


def test_self_times_subtract_direct_children():
    spans = [
        stats.Span(0, "queries.construct", 0.0, 10.0, None),
        stats.Span(1, "sources.load", 1.0, 4.0, 0),
        stats.Span(2, "operators.dedup.jaccard_pairs", 5.0, 9.0, 0),
        stats.Span(3, "sources.load", 6.0, 7.0, 2),
        stats.Span(4, "exec.drain", 10.0, 12.5, None),
    ]
    own = stats.self_times(spans)
    assert own == {0: 3.0, 1: 3.0, 2: 3.0, 3: 1.0, 4: 2.5}
    assert stats.self_time_by_name(spans) == {
        "queries.construct": 3.0,
        "sources.load": 4.0,
        "operators.dedup.jaccard_pairs": 3.0,
        "exec.drain": 2.5,
    }
    # self times add up to the wall time the top-level spans cover
    assert sum(own.values()) == 12.5


def test_tracer_records_nesting():
    tr = trace.Tracer()
    inner = tr.wrap("inner", lambda x: x + 1)
    outer = tr.wrap("outer", lambda x: inner(x) * 2)
    assert outer(1) == 4 and tr.take() == []
    tr.enabled = True
    assert outer(1) == 4
    spans = {s.name: s for s in tr.take()}
    assert spans["inner"].parent == spans["outer"].id
    assert spans["outer"].parent is None


def test_install_rebinds_every_importer():
    from big_data_programming_spark.registry import catalog
    from big_data_programming_spark.sources import loaders

    catalog()  # imports every query module, i.e. every importer
    original_load = loaders.load
    by_id = trace.install(trace.Tracer())
    try:
        assert trace.unwrapped_bindings(by_id) == []
        import big_data_programming_spark.queries.tpch as tpch

        assert tpch.load is loaders.load is not original_load
        assert tpch.load.__perfbench_original__ is original_load
        layers = {name.rsplit(".", 1)[0] for name in trace.wrapped_functions()}
        assert layers == set(trace.WRAPPED)
    finally:
        trace.uninstall(by_id)
    assert loaders.load is original_load
    import big_data_programming_spark.queries.tpch as tpch

    assert tpch.load is original_load


@pytest.mark.parametrize("text, value", [
    ("300,000", 300000.0),
    ("4.6 MiB", 4.6 * 2**20),
    ("total (min, med, max (stageId: taskId))\n5.0 s (2.5 s, 2.5 s, 2.5 s (stage 8.0: task 5))", 5.0),
    ("total (min, med, max (stageId: taskId))\n982 ms (476 ms, 506 ms, 506 ms (stage 8.0: task 6))", 0.982),
])
def test_parse_sql_metric(text, value):
    assert trace.parse_sql_metric(text) == pytest.approx(value)


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER


def test_schedule_is_a_fixed_pass_count():
    assert schedule(10, False) == [False] * 2
    assert schedule(16, False) == [False] * 4
    assert schedule(1, False) == [False] * MIN_PASSES
    traced = schedule(10, True)
    assert traced == [False, True, True, False][: 2 * TRACE_PAIRS]
    assert traced.count(True) == traced.count(False) == TRACE_PAIRS


def test_calibrator_serves_samples():
    proc = subprocess.run(
        [*CAL_JVM, os.path.join(ROOT, "perfbench", "Calib.java"), "2"],
        input="3\n2\n", capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    lines = [[float(x) for x in line.split()] for line in proc.stdout.splitlines()]
    assert [len(x) for x in lines] == [3, 2]
    assert all(t > 0 for x in lines for t in x)
