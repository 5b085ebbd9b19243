"""``sources.registry.load_table`` is the one fixture reader, so each
fixture table has one schema engine-wide — in particular ``events.ts``
is ``timestamp`` in every gate, never ``timestamp_ntz``. Its neighbours
are ``local_df``, the one builder of driver-side literal relations, and
``sql_gate``, the one binder of fixture tables to SQL view names."""

from __future__ import annotations

import ast
import os
import re
import sys
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import types as T  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from data_table_spark.operators.relational import (  # noqa: E402
    RELATIONAL_ORACLE,
    RELATIONAL_QUERIES,
)
from data_table_spark.sources import registry  # noqa: E402

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data_table_spark",
)

#: the parquet reads that are not fixture reads: compaction of a
#: caller-given path and the streaming upsert's state-version read
NON_FIXTURE_READS = {
    ("operators/scale.py", "df = spark.read.parquet(path)"),
    (
        "streaming/upsert.py",
        "return spark.read.parquet(os.path.join(state_dir, version))",
    ),
}


def _package_lines():
    for root, _, files in os.walk(PKG):
        for fn in files:
            if fn.endswith(".py"):
                path = os.path.join(root, fn)
                with open(path) as f:
                    for no, line in enumerate(f, 1):
                        yield os.path.relpath(path, PKG), no, line


def test_no_parquet_read_outside_registry():
    reads, local_imports = [], []
    for rel, no, line in _package_lines():
        if "read.parquet(" in line and rel != "sources/registry.py":
            if (rel, line.strip()) not in NON_FIXTURE_READS:
                reads.append(f"{rel}:{no}")
        if re.match(r"\s+from \S*sources\.registry import", line):
            local_imports.append(f"{rel}:{no}")
    assert not reads, f"parquet reads bypassing load_table: {reads}"
    assert not local_imports, f"function-local registry imports: {local_imports}"


def test_no_parallelize_outside_registry():
    """``registry.local_df`` is the one literal builder: no other module
    parallelizes driver-side rows into a Python RDD of its own."""
    stray = [
        f"{rel}:{no}"
        for rel, no, line in _package_lines()
        if ".parallelize(" in line and rel != "sources/registry.py"
    ]
    assert not stray, f"literal RDDs bypassing local_df: {stray}"


def test_no_whitespace_split_outside_text_kernel():
    """``functions.text.tokens`` is the one whitespace tokenizer and
    ``normalize_ws`` the one whitespace collapser: no other module splits
    on ``\\s+`` or replaces ``\\s+`` runs with one space itself."""
    stray = [
        f"{rel}:{no}"
        for rel, no, line in _package_lines()
        if rel != os.path.join("functions", "text.py")
        and ('r"\\s+")' in line or ("F.split(" in line and "\\s+" in line)
             or ("regexp_replace(" in line and 'r"\\s+", " "' in line))
    ]
    assert not stray, f"whitespace splits bypassing the text kernel: {stray}"


def _calls_load_table(node) -> bool:
    return any(
        isinstance(n, ast.Call)
        and getattr(n.func, "id", getattr(n.func, "attr", None)) == "load_table"
        for n in ast.walk(node)
    )


def test_no_fixture_view_outside_registry():
    """``registry.sql_gate`` is the one binder of fixture tables to view
    names: no ``load_table(...)...createOrReplaceTempView(`` chain
    elsewhere (views over derived frames are fine)."""
    stray = []
    for root, _, files in os.walk(PKG):
        for fn in files:
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, PKG)
            if not fn.endswith(".py") or rel == "sources/registry.py":
                continue
            with open(path) as f:
                tree = ast.parse(f.read())
            stray += [
                f"{rel}:{n.lineno}"
                for n in ast.walk(tree)
                if isinstance(n, ast.Call)
                and getattr(n.func, "attr", None) == "createOrReplaceTempView"
                and _calls_load_table(n.func.value)
            ]
    assert not stray, f"fixture views bypassing sql_gate: {stray}"


#: the relational gates defined as their own oracle SQL
SQL_GATES = sorted(
    n for n, fn in RELATIONAL_QUERIES.items()
    if isinstance(fn, partial) and fn.func is registry.sql_gate
)


def test_sql_gate_count():
    """74 gates are ``sql_gate`` over their own oracle string, byte for
    byte; the other relational gates keep a builder."""
    assert len(SQL_GATES) == 74
    for name in SQL_GATES:
        fn = RELATIONAL_QUERIES[name]
        assert (fn.args, fn.keywords) == (
            (), {"sql": RELATIONAL_ORACLE[name]}
        ), name


def test_sql_gate_binds_only_the_tables_it_names(spark, sf_smoke, monkeypatch):
    seen = []
    load = registry.load_table

    def spy(spark, name, sf_dir=registry.DEFAULT_SF_DIR):
        seen.append(name)
        return load(spark, name, sf_dir)

    monkeypatch.setattr(registry, "load_table", spy)
    for gate, tables in (
        ("q05_multiway_join", {"customer", "nation", "region"}),
        ("q10_cross_join", {"region"}),
    ):
        seen.clear()
        RELATIONAL_QUERIES[gate](spark, sf_smoke)
        assert set(seen) == tables, gate


def test_sql_gate_leaves_the_session_views_as_it_found_them(spark, sf_smoke):
    """The views a gate binds live only while its SQL is analysed: a
    temp view the session already had under a fixture name comes back,
    and no fixture view is left behind."""

    def temp_views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    spark.range(3).createOrReplaceTempView("region")
    try:
        before = temp_views()
        q05 = RELATIONAL_QUERIES["q05_multiway_join"](spark, sf_smoke)
        assert temp_views() == before
        assert spark.table("region").count() == 3
        assert q05.count() > 0
    finally:
        spark.catalog.dropTempView("region")


def test_sql_gate_frame_survives_a_rebind(spark, sf_smoke, sf_dir):
    """Analysis is eager: building q04 again at another scale rebinds the
    views, not a frame already built."""
    q04 = RELATIONAL_QUERIES["q04_inner_join"]
    small = q04(spark, sf_smoke)
    n_small = small.count()
    assert q04(spark, sf_dir).count() != n_small
    assert small.count() == n_small


def _types(dtype):
    """``dtype`` and every type nested in it."""
    yield dtype
    if isinstance(dtype, T.StructType):
        for f in dtype.fields:
            yield from _types(f.dataType)
    elif isinstance(dtype, T.ArrayType):
        yield from _types(dtype.elementType)
    elif isinstance(dtype, T.MapType):
        yield from _types(dtype.keyType)
        yield from _types(dtype.valueType)


def test_events_ts_gates_emit_timestamp(spark, sf_smoke):
    """The three gates that pass ``events.ts`` through to their output
    emit it as ``timestamp`` — the type ``load_table`` gives it."""
    gates = entry.queries()
    for name in ("q70_scd2_build", "q90_latest_n_per_key", "q101_pit_join"):
        schema = gates[name](spark, sf_smoke).schema
        kinds = {type(t) for t in _types(schema)}
        assert T.TimestampType in kinds, name
        assert T.TimestampNTZType not in kinds, (name, schema.simpleString())
