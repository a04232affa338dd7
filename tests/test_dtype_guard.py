"""Static dtype guard as a pre-commit gate (scripts/dtype_guard.py).

Round 3 lost 6 driver rows to a bug class the value-level parity tests
cannot see: the driver's canonicalizer is pandas-based and
dtype-KIND-sensitive.  DuckDB ``SUM(BIGINT)`` silently widens to
HUGEINT (-> pandas float64 vs Spark int64 = hash fail on identical
values), and list/struct/map cells crash its sort.  These scans are
pure analysis (DuckDB DESCRIBE + Spark schema), so they run in seconds
and fail on the whole class before a round is lost:

* no HUGEINT / LIST / STRUCT / MAP / UNION column in any oracle output;
* no Array / Map / Struct / Decimal column in any Spark result schema;
* per-column type KINDS must pair across engines (int widths, datetime
  units/representations, and DECIMAL-vs-double are proven-safe and
  allowed; int-vs-float, unsigned, and unknown kinds are not).

The heavier empirical twin (``scripts/dtype_guard.py --execute``) runs
both sides at sf0.001 and compares actual pandas dtypes — run it when
adding a new output-type shape.
"""

from __future__ import annotations

import pytest

from scripts.dtype_guard import (
    scan_oracle_types,
    scan_spark_schemas,
    scan_type_pairing,
)


@pytest.fixture(scope="module")
def guard_oracle():
    # The guard runs at sf0.001: DESCRIBE only needs schemas, and the
    # smoke fixture keeps the session-scoped sf0.01 views untouched.
    import duckdb

    from big_data_programming_spark.sources.loaders import TABLES
    from tests.conftest import SMOKE_SF_DIR

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SMOKE_SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def test_no_unhashable_oracle_types(guard_oracle, spark):
    bad = scan_oracle_types(guard_oracle, spark)
    assert not bad, f"oracle columns the driver canon cannot hash: {bad}"


def test_no_unhashable_spark_types(spark, guard_oracle):
    bad = scan_spark_schemas(spark, guard_oracle)
    assert not bad, f"Spark result columns the driver canon cannot hash: {bad}"


def test_cross_engine_type_kinds_pair(spark, guard_oracle):
    bad = scan_type_pairing(spark, guard_oracle)
    assert not bad, f"cross-engine dtype-kind mismatches: {bad}"
