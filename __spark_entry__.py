"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check on sf0.001.
``queries()`` — every implemented operator from SURVEY.md §2 as
  (spark, sf_dir) -> DataFrame builders.
``oracle_sql()`` — matching DuckDB SQL for the hash-compare gate.

The driver grades the first 50 ``queries()`` entries, so both dicts come
in one computed order: oracle-backed gates with no ``hash_match`` row in
any committed ``CORRECTNESS_r*.json`` first, then the other oracle-backed
gates, stalest freshest-green round first, then the gates without an
oracle. The sort is stable, so ties keep registry order.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from functools import lru_cache

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from data_table_spark.operators import (
    asof,
    bpe,
    dedup,
    evalmetrics,
    multimodal,
    pipeline,
    reference_ops,
    relational,
    similarity,
    textstats,
    udfs,
)
from data_table_spark.streaming import stateful, windows

#: (QUERIES, ORACLE) per family, in registry order.
_FAMILIES = [
    (relational.RELATIONAL_QUERIES, relational.RELATIONAL_ORACLE),
    (dedup.DEDUP_QUERIES, dedup.DEDUP_ORACLE),
    (similarity.SIMILARITY_QUERIES, similarity.SIMILARITY_ORACLE),
    (textstats.TEXTSTATS_QUERIES, textstats.TEXTSTATS_ORACLE),
    (reference_ops.REFERENCE_QUERIES, reference_ops.REFERENCE_ORACLE),
    (multimodal.MULTIMODAL_QUERIES, multimodal.MULTIMODAL_ORACLE),
    (udfs.UDF_QUERIES, udfs.UDF_ORACLE),
    (asof.ASOF_QUERIES, asof.ASOF_ORACLE),
    (stateful.STATEFUL_QUERIES, stateful.STATEFUL_ORACLE),
    (pipeline.PIPELINE_QUERIES, pipeline.PIPELINE_ORACLE),
    (bpe.BPE_QUERIES, bpe.BPE_ORACLE),
    (windows.STREAMJOIN_QUERIES, windows.STREAMJOIN_ORACLE),
    (evalmetrics.EVAL_QUERIES, evalmetrics.EVAL_ORACLE),
]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape, SURVEY §2.3 Q12) on sf0.001."""
    q12 = relational.RELATIONAL_QUERIES["q12_group_agg"]
    return q12(spark, "/root/testdata/sf0.001")


@lru_cache(maxsize=1)
def _freshest_green() -> dict[str, int]:
    """Gate name -> latest round with a ``hash_match`` row."""
    here = os.path.dirname(os.path.abspath(__file__))
    latest: dict[str, int] = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        with open(path) as f:
            for name, row in json.load(f).items():
                if row.get("hash_match"):
                    latest[name] = max(latest.get(name, 0), rnd)
    return latest


def _ordered(pick: int) -> dict:
    merged = {k: v for fam in _FAMILIES for k, v in fam[pick].items()}
    oracles = {k for _, orc in _FAMILIES for k in orc}
    green = _freshest_green()
    return {k: merged[k] for k in sorted(
        merged, key=lambda k: (k not in oracles, green.get(k, 0)))}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered(0)


def oracle_sql() -> dict[str, str]:
    return _ordered(1)
