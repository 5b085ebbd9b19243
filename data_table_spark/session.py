"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]``; the same configuration is what we'd
ship to a 1000-executor cluster: AQE on (runtime join-strategy switching,
skew-join splitting, partition coalescing), Arrow for any Python exchange,
and shuffle partitions sized to the parallelism at hand rather than the
Spark default of 200.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "data_table_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession tuned for this engine.

    Settings are chosen for scale-out behavior, not just local runs:

    - AQE enabled: at 100 TB the static plan is wrong often enough that
      runtime re-planning (broadcast demotion/promotion, skew splitting,
      post-shuffle coalescing) is mandatory.
    - ``autoBroadcastJoinThreshold`` left at default (10 MB) so small dims
      (region/nation/supplier) broadcast automatically; large-dim joins
      fall back to sort-merge which scales linearly.
    - Arrow on: every pandas_udf / toPandas crossing is Arrow-batched.
    - UTC session timezone: deterministic timestamp semantics across
      executors in different zones.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Round-13 note: preferSortMergeJoin=false + the AQE
        # SMJ→SHJ threshold (guide §3.1/§9) were A/B-measured on the
        # heavy join gates and showed no benefit above the ±20 %
        # session-to-session noise floor on this host — not adopted;
        # see OPTIMIZATION_r13.md "examined, left alone".
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # INT96 (Spark's compatibility default) carries NO parquet
        # min/max statistics, so every timestamp-range predicate decodes
        # every row group — TIMESTAMP_MICROS restores stats-based
        # row-group skipping (asserted in test_plans.py's
        # write_sorted_ranges test) at identical µs precision
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
