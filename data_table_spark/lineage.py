"""Lineage truncation for iterative / multi-consumer DataFrames.

Iterative algorithms (label propagation) and DataFrames feeding several
downstream consumers (MinHash signatures → hot-bucket aggregate + both
band-join sides) MUST truncate their lineage, or every action re-derives
the full upstream pipeline (measured 33 s → ~5 s on sf0.1 clusters).

``truncate_lineage`` is the single switch between the two mechanisms:

- default: ``localCheckpoint`` — executor-local blocks, no I/O beyond
  memory/disk spill. Right for single-JVM and short-lived jobs; blocks
  die with an executor, which a 1000-executor cluster WILL see.
- ``SPARK_GRAFT_CHECKPOINT_DIR`` set: a RELIABLE ``checkpoint`` to that
  directory (HDFS/S3/…) — survives executor loss, the correct mode for
  long cluster runs. One env var flips every call site at once.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

#: environment variable naming a fault-tolerant checkpoint directory
#: (HDFS/S3 path on a cluster; any shared dir locally).
CHECKPOINT_DIR_ENV = "SPARK_GRAFT_CHECKPOINT_DIR"


def truncate_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut ``df``'s logical plan: reliable checkpoint when
    :data:`CHECKPOINT_DIR_ENV` is set, executor-local otherwise.
    ``eager=False`` defers materialization to the first action."""
    ckpt_dir = os.environ.get(CHECKPOINT_DIR_ENV)
    if ckpt_dir:
        sc = df.sparkSession.sparkContext
        sc.setCheckpointDir(ckpt_dir)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
