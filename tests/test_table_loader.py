"""``sources.registry.load_table`` is the one fixture reader, so each
fixture table has one schema engine-wide — in particular ``events.ts``
is ``timestamp`` in every gate, never ``timestamp_ntz``. Its neighbour
``local_df`` is the one builder of driver-side literal relations."""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import types as T  # noqa: E402

import __spark_entry__ as entry  # noqa: E402

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
