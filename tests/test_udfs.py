"""UDF surface (G11): pandas scalar / grouped-map / table-function demos
hash-match their pure-SQL DuckDB oracles — verifying the Arrow UDF
machinery end-to-end, not just the formulas."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_table_spark.operators.udfs import UDF_ORACLE, UDF_QUERIES  # noqa: E402
from tests.oracle_util import compare_to_oracle  # noqa: E402


@pytest.mark.parametrize("name", sorted(UDF_ORACLE))
def test_udf_oracle(name, spark, sf_dir, duck):
    ok, msg = compare_to_oracle(UDF_QUERIES[name](spark, sf_dir), duck, UDF_ORACLE[name])
    assert ok, f"{name}: {msg}"


def test_arrow_udtf_flavor_engages(spark, sf_dir):
    """udf_arrow_udtf_words exists to gate the Arrow-optimized UDTF
    execution flavor — assert the physical plan actually carries the
    Arrow-batched Python node (vs the pickled-row transport of the
    plain UDTF twin), not just matching output."""
    plan = (
        UDF_QUERIES["udf_arrow_udtf_words"](spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPythonUDTF" in plan or "ArrowEvalPython" in plan, plan
