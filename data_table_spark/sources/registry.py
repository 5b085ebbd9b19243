"""TESTDATA parquet registry (TESTDATA.md tables).

``load_table`` is the engine's one fixture reader: every gate reads its
tables through it, so each table has one schema engine-wide (``events.ts``
is normalized to ``timestamp``). Loads are plain ``spark.read.parquet`` —
Catalyst pushes filters and prunes columns into the scan, which is the
whole point of declaring queries on top of these instead of materializing
intermediates.
"""

from __future__ import annotations

import os
import re

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import _make_type_verifier

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: rows per slice for driver-side literal relations, and the cutoff
#: between their two builds: a literal of at most this many rows is one
#: Arrow ``LocalRelation``; a larger one is parallelized into
#: ``local_slices`` slices (PERF_NOTES.md, "Literal relations").
_LOCAL_SLICE_ROWS = 10_000


def local_slices(spark: SparkSession, n_rows: int) -> int:
    """Partition count for an n-row driver-side literal: one slice per
    10k rows, capped at defaultParallelism — a probe/centroid/ledger
    table runs single-task while a large literal ingest still
    parallelizes (guide §2, partitioning derived from input size)."""
    return max(
        1,
        min(
            spark.sparkContext.defaultParallelism,
            (n_rows + _LOCAL_SLICE_ROWS - 1) // _LOCAL_SLICE_ROWS,
        ),
    )


def local_df(spark: SparkSession, data, schema) -> DataFrame:
    """``createDataFrame`` for DRIVER-SIDE literals, built by size.
    ``schema`` must be COMPLETE (a DDL string or StructType); rows may
    be tuples, lists, dicts or ``Row`` objects.

    A literal of at most ``_LOCAL_SLICE_ROWS`` rows becomes an
    exactly-typed ``pyarrow.Table``, which ``createDataFrame`` turns into
    a ``LocalRelation``: jobs over it start no Python worker, and
    Catalyst folds projections and filters over it on the driver
    (``ConvertToLocalRelation``), so most facade cell reads run no job.
    Each row passes PySpark's own type verifier (eagerly: a bad cell
    raises here) and ``schema.toInternal``, the two steps the RDD build
    runs per row, and each column is built straight from those internal
    values with its Arrow type — never through pandas, whose float64
    would corrupt None-bearing longs past 2^53, and never from naive
    datetimes, which Arrow would read as UTC where ``toInternal`` reads
    them in the host zone. Values Arrow cannot hold exactly (a Decimal
    finer than its field's scale, which the JVM rounds HALF_UP) take
    the RDD build.

    A larger literal rides one ``parallelize(data, local_slices(...))``
    Python RDD: the driver-side fold of a large ``LocalRelation`` costs
    more per query than the worker round trip (2.4x per cell read at
    100k rows)."""
    data = list(data) if not isinstance(data, list) else data
    if not data:
        return spark.createDataFrame(data, schema)
    if len(data) <= _LOCAL_SLICE_ROWS:
        if isinstance(schema, str):
            schema = spark._parse_ddl(schema)
        verify = _make_type_verifier(schema)
        for row in data:
            verify(row)
        internal = [schema.toInternal(row) for row in data]
        try:
            table = pa.Table.from_arrays(
                [
                    pa.array(col, type=to_arrow_type(f.dataType))
                    for f, col in zip(schema.fields, zip(*internal))
                ],
                names=schema.names,
            )
        except pa.ArrowInvalid:
            pass
        else:
            return spark.createDataFrame(table, schema)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(data, local_slices(spark, len(data))),
        schema,
    )


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.ts has shipped in two physical encodings across testdata
        # generations: parquet TIMESTAMP(NANOS) (which the Spark reader
        # rejects without nanosAsLong — read as long, integer-divide to
        # micros) and plain µs TIMESTAMP_NTZ. Normalize BOTH to a
        # session-zone TIMESTAMP (LTZ): event-time watermarks require
        # TimestampType (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE on NTZ),
        # and the engine's streaming surface keys on this column. All
        # conversions are expression-only — no data pass. The NTZ→LTZ
        # cast reinterprets wall-clock in the session timezone (UTC in
        # the session factory), which preserves values byte-for-byte for
        # UTC-generated fixtures.
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integer division: ts/1000 in double would round at ~1.7e18 ns
            # (beyond double's 2^53 integer precision) and shift values by
            # a microsecond
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def register_views(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, tables=TABLES
) -> None:
    """Register TESTDATA tables (all by default) as temp views so
    ``spark.sql`` queries (the engine's get-data-table equivalent,
    clsql-data-table.lisp:13-19) can reference them by name."""
    for t in tables:
        load_table(spark, t, sf_dir).createOrReplaceTempView(t)


def sql_gate(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    """Run ``sql`` over the fixture tables at ``sf_dir``: each table the
    text names is bound to a temp view of that name, then ``spark.sql``.
    Analysis is eager, so the returned plan holds this call's relations,
    and the views are unbound again before returning: a temp view the
    session already had under one of these names (``open_testdata``'s,
    say) is put back, the others are dropped."""
    names = [t for t in TABLES if re.search(rf"\b{t}\b", sql)]
    catalog = spark._jsparkSession.sessionState().catalog()
    held = {t: catalog.getRawTempView(t) for t in names}
    register_views(spark, sf_dir, names)
    try:
        return spark.sql(sql)
    finally:
        for t, view in held.items():
            if view.isDefined():
                catalog.createTempView(t, view.get(), True)
            else:
                catalog.dropTempView(t)
