"""Round-14 optimization equivalence tests.

Every gate whose PLAN is restructured this round gets a focused test
pinning the new plan's output against the straightforward (pre-
optimization) formulation on real testdata — the round-13 discipline
continued — so the rewrite can never drift from the semantics the
DuckDB oracle checks.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from data_table_spark.sources.registry import load_table  # noqa: E402


def _rows(df, order_cols):
    return [tuple(r) for r in df.orderBy(*order_cols).collect()]


def test_ewma_matches_grouped_map_form(spark, sf_dir):
    """The partition-sorted mapInPandas fold must emit exactly what the
    original per-key grouped-map recurrence emitted — same float64 op
    sequence per row (python float is the same IEEE-754 double), same
    flooring expression, same per-key rn numbering."""
    import pandas as pd

    from data_table_spark.operators.udfs import ewma_per_key, load_table

    alpha = 0.2

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        y, out = None, []
        for x in pdf["value"].astype("float64"):
            y = x if y is None else alpha * x + (1.0 - alpha) * y
            out.append(y)
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "rn": range(1, len(out) + 1),
                "ewma_e6": [int(v * 1e6 // 1) for v in out],
            }
        )

    e = load_table(spark, "events", sf_dir).select(
        "user_id", "ts", "event_id", "value"
    )
    reference = e.groupBy("user_id").applyInPandas(
        fold, "user_id long, rn long, ewma_e6 long"
    )
    got = ewma_per_key(e)
    key = ["user_id", "rn"]
    assert _rows(got, key) == _rows(reference, key)


def test_q79_matches_self_join_form(spark, sf_dir):
    """The basket-explode pair count must equal the original
    distinct → self-join → groupBy formulation row for row (each order
    contributes each unordered distinct-part pair exactly once in both
    forms)."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_partkey"
    ).distinct()
    a, b = li.alias("a"), li.alias("b")
    reference = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "part_a", "part_b")
        .limit(20)
    )
    got = entry.queries()["q79_cooccurrence"](spark, sf_dir)
    key = ["part_a", "part_b"]
    assert _rows(got, key) == _rows(reference, key)


def test_q117_matches_self_join_form(spark, sf_dir):
    """The basket-explode association-rule build must equal the original
    three-consumer distinct-li formulation (self-join pair counts, item
    counts, basket count) on every column, including the floored
    confidence/lift integer ratios."""
    from data_table_spark.operators.relational import _floor_div_dec

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_partkey"
    ).distinct()
    n_baskets = li.select("l_orderkey").distinct().count()
    item = li.groupBy(F.col("l_partkey").alias("item")).agg(
        F.count(F.lit(1)).alias("n_item")
    )
    x, y = li.alias("x"), li.alias("y")
    pairs = (
        x.join(y, "l_orderkey")
        .where(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .groupBy(
            F.col("x.l_partkey").alias("a"),
            F.col("y.l_partkey").alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= 2)
    )
    directed = pairs.select("a", "b", "n_ab").unionAll(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"), "n_ab")
    )
    ia, ib = item.alias("ia"), item.alias("ib")
    reference = (
        directed.join(ia, F.col("a") == F.col("ia.item"))
        .join(ib, F.col("b") == F.col("ib.item"))
        .select(
            F.col("a").alias("antecedent"),
            F.col("b").alias("consequent"),
            F.col("n_ab").cast("long").alias("n_ab"),
            F.col("ia.n_item").cast("long").alias("n_a"),
            F.col("ib.n_item").cast("long").alias("n_b"),
            F.floor(F.lit(1_000_000) * F.col("n_ab") / F.col("ia.n_item"))
            .cast("long").alias("confidence_e6"),
            _floor_div_dec(
                F.col("n_ab").cast("decimal(38,0)")
                * F.lit(1_000_000) * F.lit(n_baskets),
                F.col("ia.n_item").cast("decimal(38,0)") * F.col("ib.n_item"),
            ).alias("lift_e6"),
        )
    )
    got = entry.queries()["q117_association_rules"](spark, sf_dir)
    key = ["antecedent", "consequent"]
    assert _rows(got, key) == _rows(reference, key)


# ---------------------------------------------------------------------------
# facade batch: row-count hint, in-place formatting, fused guess+audit
# ---------------------------------------------------------------------------


def test_n_rows_hint_tracks_true_count(spark):
    """The statically-known row count must equal df.count() through every
    operation that carries it — a wrong hint would silently skip
    _ensure_rows padding or mis-slice sub_table."""
    from data_table_spark.core import DataTable

    dt = DataTable.from_rows(
        spark, [["a", "1"], ["b"], ["c", "3"]], ["x", "y"]
    )

    def check(t):
        assert t._n_rows is not None
        assert t._n_rows == t._df.count()

    check(dt)
    check(dt.select_columns(["y", "x"]))
    check(dt.add_column("z", "q"))
    check(dt.rename_column("x", "xx"))
    check(dt.symbolize_column_names())
    check(dt.sub_table(lri=1, uri=3))
    check(dt.sub_table(lri=2))          # open upper bound
    check(dt.sub_table(lri=9, uri=20))  # slice beyond the end -> 0 rows
    check(dt.set_value("Z", row_idx=1, col="x"))
    check(dt.set_value("Z", row_idx=7, col="x"))        # auto-extends to 8
    check(dt.set_value(["p", "q"], col="y"))            # column list
    check(dt.set_value(["p", "q", "r", "s", "t"], col="y"))  # extends to 5
    check(dt._ensure_rows(10))
    check(dt.coerce_types())
    check(dt.format_for_output())
    block = DataTable.from_rows(spark, [["X"], ["Y"]], ["a"])
    check(dt.overlay_region(block, row_idx=2, col_idx=1))  # grows to 4 rows
    check(dt.overlay_region(block, row_idx=0, col_idx=0))
    # from_records and the empty table
    check(DataTable.from_records(spark, [{"a": 1}, {"a": 2}]))
    check(DataTable.from_rows(spark, [], ["a"]))


def test_format_for_output_keeps_dense_row_ids(spark):
    """In-place formatting must emit the same rows with the same _row_id
    as the old orderBy + re-stamp form (ids are dense 0..n-1, so the
    renumber it replaced was the identity)."""
    from data_table_spark.core import ROW_ID, DataTable
    from data_table_spark.functions.formatting import format_value
    from data_table_spark.names import sql_name

    dt = DataTable.from_rows(
        spark,
        [["1", "26.20"], ["2", None], ["3", "0.5"]],
        ["id", "hours"],
    ).coerce_types(infer_dates=False)
    got = dt.format_for_output()
    # old formulation: order by id, format, re-stamp a fresh dense id
    plain = dt.ordered_df.orderBy(ROW_ID).select(*dt.column_names)
    old = DataTable(
        plain.select(*[
            format_value(
                F.col(sql_name(f.name)), f.dataType, dt.config.list_delimiter
            ).alias(f.name)
            for f in plain.schema.fields
        ]),
        config=dt.config,
    )
    # _row_id POSITION differs (the facade hides it and resolves by
    # name); rows and ids must be identical
    cols = [ROW_ID, *dt.column_names]
    assert [
        tuple(r) for r in got.ordered_df.select(*cols).orderBy(ROW_ID).collect()
    ] == [
        tuple(r) for r in old.ordered_df.select(*cols).orderBy(ROW_ID).collect()
    ]


def test_fused_coerce_matches_two_job_path(spark):
    """guess_types_with_audit (one job) must resolve the same types and
    the same demotions as the guess-then-audit two-job path, including
    the case the audit EXISTS for: a column the lattice types as LONG
    whose values can't all cast (mixed int + date under
    infer_dates=False) must still demote to string."""
    from data_table_spark.core import DataTable
    from data_table_spark.inference import BadTypeGuess

    rows = [
        ["1", "26.2", "2020-01-01", "2020-01-01"],
        ["2", "37", "2021-06-30", "17"],
        ["3", "42.1", "2022-12-25", "2022-12-25"],
    ]
    cols = ["i", "d", "ts", "mixed"]
    dt = DataTable.from_rows(spark, rows, cols)
    assert dt._n_rows == 3  # fused path eligible

    # infer_dates=False: 'ts' and 'mixed' both reach the LONG pick and
    # must both demote via the audit counters
    out = dt.coerce_types(infer_dates=False)
    got_types = {f.name: f.dataType.simpleString() for f in out.df.schema.fields}
    assert got_types == {
        "i": "bigint", "d": "double", "ts": "string", "mixed": "string"
    }

    # infer_dates=True: 'ts' types as timestamp; 'mixed' still demotes
    out2 = dt.coerce_types(infer_dates=True)
    got2 = {f.name: f.dataType.simpleString() for f in out2.df.schema.fields}
    assert got2 == {
        "i": "bigint", "d": "double", "ts": "timestamp", "mixed": "string"
    }

    # on_error='raise' must raise from the fused counters too
    try:
        dt.coerce_types(on_error="raise", infer_dates=False)
    except BadTypeGuess as e:
        assert e.bad_count > 0
    else:
        raise AssertionError("fused raise path did not raise")

    # explicit types force the two-job path; results must agree with the
    # fused path on the untouched columns
    out3 = dt.coerce_types(explicit={"mixed": "string"}, infer_dates=False)
    got3 = {f.name: f.dataType.simpleString() for f in out3.df.schema.fields}
    assert got3 == got_types

    # values identical between the paths (not just the types)
    big = DataTable.from_rows(spark, rows, cols)
    object.__setattr__(big, "_n_rows", None)  # force the two-job path
    ref = big.coerce_types(infer_dates=False)
    assert [tuple(r) for r in out.df.orderBy("i").collect()] == [
        tuple(r) for r in ref.df.orderBy("i").collect()
    ]
