"""Scalar/aggregate expression helpers (SURVEY.md §2.8, §2.10)."""

from big_data_programming_spark.functions.canonical import (  # noqa: F401
    DEC,
    cos_sql,
    davg,
    davg_sql,
    dbl_sql,
    dec_sql,
    dsum,
    dsum_sql,
)
