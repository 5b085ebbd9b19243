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

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: rows per partition for driver-side literal relations: createDataFrame
#: over a python list parallelizes into defaultParallelism slices
#: regardless of size, so every job over a few-row literal schedules a
#: full wave of pickled-python tasks.
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
    """``createDataFrame`` for DRIVER-SIDE literals with the partition
    count derived from input size. ``schema`` must be COMPLETE (a DDL
    string or StructType, or per-row verification would re-infer) —
    the data rides one ``parallelize(data, local_slices(...))`` RDD, so
    every job over the frame pays ONE python-worker round trip instead
    of one per core (measured 0.16 s vs 0.33 s warm per job on
    local[32] for a 5-row table, and the difference compounds for every
    downstream job that rescans the literal). NOT a coalesce: coalescing
    a default-parallelized literal runs its sub-partitions' python
    round trips SEQUENTIALLY inside one task (measured 4.4 s/job).
    NOT the pandas/Arrow path (0.03 s) either: pandas would route
    None-bearing int columns through float64, silently corrupting
    longs past 2^53 — the engine-wide overflow class this repo bans."""
    data = list(data) if not isinstance(data, list) else data
    if not data:
        return spark.createDataFrame(data, schema)
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


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {t: load_table(spark, t, sf_dir) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every TESTDATA table as a temp view so ``spark.sql`` queries
    (the engine's get-data-table equivalent, clsql-data-table.lisp:13-19)
    can reference them by name."""
    for t in TABLES:
        load_table(spark, t, sf_dir).createOrReplaceTempView(t)
