"""Q01-Q32 hash-match the DuckDB oracle at sf0.01 (SURVEY §2.3)."""

from __future__ import annotations

import pytest

import sys, os
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_table_spark.operators.relational import (  # noqa: E402
    RELATIONAL_ORACLE,
    RELATIONAL_QUERIES,
)
from tests.oracle_util import compare_to_oracle  # noqa: E402


@pytest.mark.parametrize("name", sorted(RELATIONAL_ORACLE))
def test_oracle_match(name, spark, sf_dir, duck):
    df = RELATIONAL_QUERIES[name](spark, sf_dir)
    ok, msg = compare_to_oracle(df, duck, RELATIONAL_ORACLE[name])
    assert ok, f"{name}: {msg}"


def test_json_extract_paths_agree(spark, sf_dir):
    """The two JSON extraction paths (path-string get_json_object vs typed
    from_json field access) must agree on every row — asserted here with
    null-safe equality so rows whose props lack key 'k' count as agreeing,
    instead of inside the q49 gate query where a WHERE k == k_typed filter
    silently dropped them (round-1 finding)."""
    from pyspark.sql import functions as F

    from data_table_spark.sources.registry import load_table

    e = load_table(spark, "events", sf_dir)
    disagree = (
        e.select(
            F.get_json_object("props", "$.k").cast("long").alias("a"),
            F.from_json(F.col("props"), "k BIGINT")["k"].alias("b"),
        )
        .where(~F.col("a").eqNullSafe(F.col("b")))
        .count()
    )
    assert disagree == 0


def test_q17_tolerance(spark, sf_dir, duck):
    approx = (
        RELATIONAL_QUERIES["q17_approx_count_distinct"](spark, sf_dir)
        .collect()[0][0]
    )
    exact = duck.execute(
        "SELECT COUNT(DISTINCT o_custkey) FROM orders"
    ).fetchone()[0]
    assert abs(approx - exact) <= 0.05 * exact, (approx, exact)


def test_pagerank_mass_conservation(spark, sf_dir):
    """q100's integer fixed-point PageRank: total rank mass stays within
    integer-truncation distance of 10^12 (each of the 3 iterations can
    only LOSE mass to div truncation, never create it), and every rank
    is positive — the two invariants a fixed-point port most easily
    breaks."""
    rows = RELATIONAL_QUERIES["q100_pagerank"](spark, sf_dir).collect()
    total = sum(r["rank_e12"] for r in rows)
    n_edges_bound = len(rows) * len(rows)  # ≤ V² edges
    # per iteration: ≤1 ulp lost per edge share + per node div; 3 iters
    slack = 3 * (n_edges_bound + len(rows)) * 10**6
    assert 10**12 - slack <= total <= 10**12
    assert all(r["rank_e12"] > 0 for r in rows)
