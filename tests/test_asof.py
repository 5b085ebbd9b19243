"""As-of join: DuckDB ASOF JOIN oracle gate + directional/tolerance units.

The gated query (asof_join_events) is hash-compared against DuckDB's native
ASOF LEFT JOIN; the unit tests pin the semantics pandas.merge_asof users
expect (inclusive backward match, forward direction, tolerance voiding,
left-outer survival).
"""

from __future__ import annotations

import datetime as dt

import sys, os
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from data_table_spark.operators.asof import (  # noqa: E402
    ASOF_ORACLE,
    ASOF_QUERIES,
    asof_join,
)
from tests.oracle_util import compare_to_oracle  # noqa: E402


def _ts(s):
    return dt.datetime.fromisoformat(s)


def _fixture(spark):
    trades = spark.createDataFrame(
        [
            (1, "A", _ts("2024-01-01 10:00:05"), 100.0),
            (2, "A", _ts("2024-01-01 10:00:00"), 101.0),  # equal-ts match
            (3, "B", _ts("2024-01-01 09:00:00"), 50.0),   # before any quote
            (4, "C", _ts("2024-01-01 12:00:00"), 70.0),   # key with no quotes
        ],
        ["trade_id", "sym", "ts", "px"],
    )
    quotes = spark.createDataFrame(
        [
            ("A", _ts("2024-01-01 10:00:00"), 99.5),
            ("A", _ts("2024-01-01 10:00:03"), 99.7),
            ("A", _ts("2024-01-01 10:00:09"), 99.9),
            ("B", _ts("2024-01-01 09:30:00"), 49.0),
        ],
        ["sym", "ts", "bid"],
    )
    return trades, quotes


def test_backward_inclusive_and_outer(spark):
    trades, quotes = _fixture(spark)
    out = asof_join(
        trades, quotes, by=["sym"], left_on="ts", right_on="ts"
    )
    got = {r["trade_id"]: (r["bid"], r["ts_right"]) for r in out.collect()}
    assert got[1] == (99.7, _ts("2024-01-01 10:00:03"))  # latest <= 10:00:05
    assert got[2] == (99.5, _ts("2024-01-01 10:00:00"))  # equal ts matches
    assert got[3] == (None, None)                        # no quote yet
    assert got[4] == (None, None)                        # key absent entirely
    assert out.count() == trades.count()                 # left-outer: no loss


def test_forward_direction(spark):
    trades, quotes = _fixture(spark)
    out = asof_join(
        trades, quotes, by=["sym"], left_on="ts", right_on="ts",
        direction="forward",
    )
    got = {r["trade_id"]: r["bid"] for r in out.collect()}
    assert got[1] == 99.9   # earliest quote >= 10:00:05
    assert got[2] == 99.5   # equal ts still matches forward
    assert got[3] == 49.0   # 09:30 quote is ahead of the 09:00 trade
    assert got[4] is None


def test_tolerance_voids_stale_matches(spark):
    trades, quotes = _fixture(spark)
    out = asof_join(
        trades, quotes, by=["sym"], left_on="ts", right_on="ts",
        tolerance_seconds=1.0,
    )
    got = {r["trade_id"]: r["bid"] for r in out.collect()}
    assert got[1] is None   # nearest backward quote is 2s stale — voided
    assert got[2] == 99.5   # gap 0s — kept
    assert out.count() == trades.count()  # voided rows survive with NULLs


def test_tolerance_boundary_inclusive(spark):
    trades, quotes = _fixture(spark)
    out = asof_join(
        trades, quotes, by=["sym"], left_on="ts", right_on="ts",
        tolerance_seconds=2.0,
    )
    got = {r["trade_id"]: r["bid"] for r in out.collect()}
    assert got[1] == 99.7   # gap exactly 2.0s — inclusive


def test_asof_gate_matches_duckdb(spark, sf_dir, duck):
    for name, sql in ASOF_ORACLE.items():
        df = ASOF_QUERIES[name](spark, sf_dir)
        ok, msg = compare_to_oracle(df, duck, sql)
        assert ok, f"{name}: {msg}"
