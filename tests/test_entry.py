"""Smoke-checks of the driver contract surface itself."""

from __future__ import annotations

import __spark_entry__ as entrymod

from big_data_programming_spark.sources.loaders import TABLES, load
from big_data_programming_spark.sources.schemas import SCHEMAS
from tests.conftest import SMOKE_SF_DIR


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_queries_and_oracles_align(spark):
    qs = entrymod.queries()
    osql = entrymod.oracle_sql()
    assert qs, "catalog must not be empty"
    assert set(osql) <= set(qs)
    for name, fn in qs.items():
        assert callable(fn), name


def test_fixture_schemas_match(spark):
    """The declared SCHEMAS must equal what Spark would INFER from the
    fixture parquet. load() applies SCHEMAS directly (r11 footer-read
    optimization), so inferring through load() would compare the
    declared schema to itself; infer independently via a bare
    spark.read.parquet so drift between SCHEMAS and regenerated fixture
    files (renamed/retyped column) fails here, not as runtime null-fill
    (the r11 advisor's catch)."""
    import os

    for t in TABLES:
        df = load(spark, SMOKE_SF_DIR, t)
        inferred = spark.read.parquet(os.path.join(SMOKE_SF_DIR, f"{t}.parquet"))
        declared = {f.name: f.dataType.simpleString() for f in SCHEMAS[t].fields}
        via_load = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        from_file = {f.name: f.dataType.simpleString() for f in inferred.schema.fields}
        assert via_load == declared, f"{t}: {via_load} != {declared}"
        assert from_file == declared, f"{t}: inferred {from_file} != declared {declared}"


def test_catalog_md_is_current():
    """CATALOG.md is generated; it must match the live catalog (run
    ``python scripts/gen_catalog.py`` after adding or reordering queries)."""
    from scripts.gen_catalog import CATALOG_MD, render

    with open(CATALOG_MD) as f:
        assert f.read() == render()


def test_canon_spellings_stay_in_their_home_modules():
    """Each cross-engine canon is spelled in one module: the decimal
    width and DuckDB's VARCHAR-routed cast in functions/canonical.py,
    the window-start arithmetic and the final-watermark cutoff in
    operators/sessions.py. Scans the string literals of the package's
    code (docstrings may name a canon), case-insensitively. The lineage
    cut is one call too: a ``.localCheckpoint(`` or ``.checkpoint(``
    call anywhere but operators/graph.py (``cut``) fails."""
    import ast
    import pathlib

    homes = {
        "functions/canonical.py": ("DECIMAL(38,10)", "AS VARCHAR) AS DOUBLE"),
        "operators/sessions.py": ("FLOOR(EPOCH(", "EPOCH_MS(MAX", "EPOCH_MS((SELECT MAX"),
    }
    pkg = pathlib.Path(__file__).resolve().parents[1] / "big_data_programming_spark"
    found = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        tree = ast.parse(path.read_text())
        docstrings = {
            id(node.body[0].value)
            for node in ast.walk(tree)
            if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef))
            and node.body
            and isinstance(node.body[0], ast.Expr)
        }
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("localCheckpoint", "checkpoint")
                and rel != "operators/graph.py"
            ):
                found.append((rel, node.lineno, node.func.attr))
            if not (isinstance(node, ast.Constant) and isinstance(node.value, str)):
                continue
            if id(node) in docstrings:
                continue
            text = node.value.upper()
            found += [
                (rel, node.lineno, spelling)
                for home, spellings in homes.items()
                if rel != home
                for spelling in spellings
                if spelling in text
            ]
    assert not found, found
