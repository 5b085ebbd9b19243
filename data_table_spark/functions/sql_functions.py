"""Reference scalars as SQL-DEFINED functions (SURVEY §4.3.5).

``spark.sql`` text queries get the reference semantics without Python UDF
cost: Spark 4's ``CREATE TEMPORARY FUNCTION … RETURN <expr>`` registers a
pure-Catalyst SQL function — the body inlines into the caller's plan and
stays inside whole-stage codegen.

Functions (all NULL-propagating like their Column twins in cleaning.py,
whose ``*_sql`` text forms are their bodies):
- dt_trim_nullify(s): NBSP-aware trim; ''/'nil' → NULL (data-table.lisp:48-56)
- dt_relaxed_double(s): strip \\s $ , % then double (data-table.lisp:74-90)
- dt_relaxed_bigint(s): integer-syntax variant
- dt_fmt2(x): display formatting %.2f / NULL→'' (data-table.lisp:437-454)
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .cleaning import relaxed_double_sql, relaxed_long_sql, trim_and_nullify_sql

_DEFS = [
    (
        "dt_trim_nullify",
        f"(s STRING) RETURNS STRING RETURN {trim_and_nullify_sql('s')}",
    ),
    (
        "dt_relaxed_double",
        f"(s STRING) RETURNS DOUBLE RETURN {relaxed_double_sql('s')}",
    ),
    (
        "dt_relaxed_bigint",
        f"(s STRING) RETURNS BIGINT RETURN {relaxed_long_sql('s')}",
    ),
    (
        "dt_fmt2",
        "(x DOUBLE) RETURNS STRING RETURN "
        "COALESCE(REGEXP_REPLACE(FORMAT_NUMBER(x, 2), ',', ''), '')",
    ),
]


def register_reference_functions(spark: SparkSession) -> list[str]:
    """Register all reference-semantics SQL functions on this session;
    returns the registered names."""
    names = []
    for name, body in _DEFS:
        spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{body}")
        names.append(name)
    return names
