"""``sources.registry.local_df`` builds driver-side literals two ways: an
Arrow ``LocalRelation`` up to ``_LOCAL_SLICE_ROWS`` rows, a parallelized
Python RDD above. The Arrow build must give exactly what the RDD build
``createDataFrame(sc.parallelize(rows), schema)`` gives — same schema,
same rows — for every type a literal can carry, in any host time zone.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import subprocess
import sys
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest  # noqa: E402
from pyspark.sql import Row  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from data_table_spark.core import DataTable  # noqa: E402
from data_table_spark.sources.registry import _LOCAL_SLICE_ROWS, local_df  # noqa: E402

NBSP = "\u00a0"

SCHEMA = T.StructType([
    T.StructField("id", T.LongType(), False),
    T.StructField("big", T.LongType()),
    T.StructField("d", T.DoubleType()),
    T.StructField("dec", T.DecimalType(38, 18)),
    T.StructField("s", T.StringType()),
    T.StructField("bin", T.BinaryType()),
    T.StructField("flag", T.BooleanType()),
    T.StructField("day", T.DateType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("ntz", T.TimestampNTZType()),
    T.StructField("arr", T.ArrayType(T.LongType())),
    T.StructField("m", T.MapType(T.StringType(), T.LongType())),
    T.StructField("st", T.StructType([
        T.StructField("x", T.LongType()), T.StructField("y", T.StringType()),
    ])),
    T.StructField("all_null", T.StringType()),
])

_UTC = dt.timezone.utc
#: 02:30 on this day does not exist in America/New_York (DST gap)
_GAP = dt.datetime(2024, 3, 10, 2, 30)

ROWS = [
    (0, 2**53 + 1, math.nan, Decimal("12345678901234567890.123456789012345678"),
     f"a{NBSP}b", b"\x00\xff", True, dt.date(2024, 3, 10), _GAP, _GAP,
     [1, None, 3], {"k": 1, "z": None}, (1, "x"), None),
    Row(id=1, big=None, d=math.inf, dec=None, s=None, bin=None, flag=None,
        day=None, ts=dt.datetime(2024, 3, 10, 2, 30, tzinfo=_UTC), ntz=None,
        arr=None, m=None, st=None, all_null=None),
    (2, -(2**63), -0.0, Decimal("-1.5"), NBSP, bytearray(b"z"), False,
     dt.date(1969, 12, 31), dt.datetime(1960, 1, 1, 0, 0, 0, 123456),
     dt.datetime(1900, 1, 1), [], {}, (None, None), None),
    (3, 2**63 - 1, -math.inf, Decimal("0E-18"), "", b"", None,
     dt.date(9999, 12, 31), None, dt.datetime(2024, 11, 3, 1, 30),
     [None], {"a": 2**60}, None, None),
    (4, None, 0.1, Decimal("1E+19"), " x ", None, True, dt.date(1, 1, 1),
     dt.datetime(2024, 11, 3, 1, 30, tzinfo=dt.timezone(dt.timedelta(hours=-4))),
     None, [2**62], None, Row(x=None, y=NBSP), None),
]


def _physical(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _canon(rows):
    """``repr`` per row: NaN and -0.0 compare by spelling, not by ``==``."""
    return [repr(r) for r in rows]


def _compare_builds():
    """Run in a fresh interpreter (the host zone is read at import)."""
    from data_table_spark.session import get_spark

    spark = get_spark(master="local[1]", shuffle_partitions=1)
    ref = spark.createDataFrame(spark.sparkContext.parallelize(ROWS), SCHEMA)
    new = local_df(spark, ROWS, SCHEMA)
    assert "LocalTableScan" in _physical(new)
    assert new.schema.json() == ref.schema.json()
    got, want = _canon(new.collect()), _canon(ref.collect())
    assert got == want, (got, want)
    print("OK", len(got))


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
def test_local_df_matches_rdd_build(tz):
    env = dict(os.environ, TZ=tz)
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__)],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert f"OK {len(ROWS)}" in out.stdout


def test_local_df_rejects_what_the_verifier_rejects(spark):
    """An ``int`` in a ``double`` field: the RDD build fails at job
    time; the Arrow build fails when the literal is built."""
    with pytest.raises(TypeError):
        local_df(spark, [(1, 2)], "a long, b double")


def test_decimal_finer_than_its_scale_rounds_like_the_rdd_build(spark):
    """Inference types every ``Decimal`` cell ``decimal(38,18)``; Arrow
    refuses a 19th fractional digit, so that literal takes the RDD build,
    where the JVM rounds it HALF_UP."""
    cell = Decimal("0.1234567890123456789")
    t = DataTable.from_rows(spark, [[cell]], ["x"])
    assert t.value(0, "x") == Decimal("0.123456789012345679")


def _grid(n):
    """An all-string report grid with padding, NBSP and nil cells."""
    return [
        [
            f" {i} ",
            "nil" if i % 7 == 0 else f"{i * 3 % 1000}",
            f"{i % 500}.25",
            f"2024-0{1 + i % 9}-1{i % 10}",
            f"note{NBSP}{i}",
            ["EU", "US", ""][i % 3],
        ]
        for i in range(n)
    ]


COLS = ["id", "qty", "price", "shipped", "note", "region"]


def test_small_literal_plans_a_local_table_scan(spark):
    t = DataTable.from_rows(spark, _grid(800), COLS).coerce_types()
    plan = _physical(t.df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_large_literal_keeps_the_distributed_scan(spark):
    grid = _grid(_LOCAL_SLICE_ROWS + 1)
    big = DataTable.from_rows(spark, grid, COLS).coerce_types()
    small = DataTable.from_rows(spark, grid[:800], COLS).coerce_types()
    plan = _physical(big.df)
    assert "ExistingRDD" in plan and "LocalTableScan" not in plan, plan
    assert [f.dataType for f in big.df.schema.fields] == [
        f.dataType for f in small.df.schema.fields
    ]
    for r, c in [(0, 0), (7, 1), (123, 2), (456, 3), (799, 4), (798, "region")]:
        assert big.value(r, c) == small.value(r, c), (r, c)


if __name__ == "__main__":
    _compare_builds()
