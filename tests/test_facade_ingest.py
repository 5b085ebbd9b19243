"""Facade ingest and driver-bound reads: the type guess, the coercion
audit and projection are SQL text, and ordered reads sort on the driver.

Pins deterministic facts — the guess counters on an edge-case grid, the
py4j command count of one ``coerce_types``, the job count of a read over
a literal table — and the cleaning regexes' Column and SQL forms.
"""

from __future__ import annotations

import contextlib
import random

import py4j.clientserver as clientserver
import pytest

from data_table_spark.core import DataTable
from data_table_spark.functions.cleaning import (
    relaxed_double,
    relaxed_double_sql,
    relaxed_long,
    relaxed_long_sql,
    trim_and_nullify,
    trim_and_nullify_sql,
)
from data_table_spark.functions.sql_functions import register_reference_functions
from data_table_spark import inference
from data_table_spark.inference import _guess_with_counters

NB = "\xa0"

#: names that only resolve quoted: a dot, a space, a backtick
EDGE_COLUMNS = ["a", "b.1", "c", "d d", "e", "f`f", "g", "h"]
EDGE_GRID = [
    ["9223372036854775808", "-9223372036854775808", "9223372036854775807",
     "1e5", "2020-01-01T10:00", "2020-13-45", "2020-01-01T10:00", "abc"],
    ["1", "2", "+7", "+7", "2020-01-01", "2020-01-01", "7", "1.2.3"],
    [None, "3", f"{NB}7{NB}", "$1,000.50", "2020-01-01 10:00:00.5", "", "nil", NB],
    ["nil", " 4 ", "NIL", "50%", None, "x", "1.5", "nil"],
]

#: (types, bad_counts) of the Column-built guess this SQL form replaced,
#: recorded on the same grid under the plain names a…h
EDGE_EXPECTED = {
    True: (
        ["string", "string", "bigint", "double", "timestamp", "string", "double",
         "string"],
        [0, 0, 0, 0, 0, 0, 1, 0],
    ),
    False: (
        ["string", "string", "bigint", "double", "bigint", "string", "double",
         "string"],
        [0, 0, 0, 0, 3, 0, 1, 0],
    ),
}


@pytest.mark.parametrize("infer_dates", [True, False])
def test_guess_counters_on_edge_grid(spark, infer_dates):
    df = spark.createDataFrame(EDGE_GRID, EDGE_COLUMNS)
    types, bad = _guess_with_counters(df, EDGE_COLUMNS, 1000, infer_dates, "head")
    want_types, want_bad = EDGE_EXPECTED[infer_dates]
    assert {c: t.simpleString() for c, t in types.items()} == dict(
        zip(EDGE_COLUMNS, want_types)
    )
    assert bad == dict(zip(EDGE_COLUMNS, want_bad))


def _grid(n: int) -> list[list[str]]:
    rng = random.Random(5)
    return [
        [str(i), f"{rng.randint(0, 10**6):,}", f" {rng.random() * 1000:.2f}",
         f"2021-0{1 + i % 9}-1{i % 10} 10:00", rng.choice(["a", "b", "nil"]),
         rng.choice(["x", "y"])]
        for i in range(n)
    ]


@contextlib.contextmanager
def _count_py4j_commands():
    """Count py4j commands sent from this process, leaving out the
    ``m\\nd`` detaches Python's collector sends for dead JVM handles."""
    orig = clientserver.ClientServerConnection.send_command
    sent = [0]

    def counting(self, command):
        if not command.startswith("m\nd"):
            sent[0] += 1
        return orig(self, command)

    clientserver.ClientServerConnection.send_command = counting
    try:
        yield sent
    finally:
        clientserver.ClientServerConnection.send_command = orig


def test_coerce_types_sends_few_py4j_commands(spark):
    """One guess builds ~90 expressions; as Column trees that was one
    py4j command per ``F.*`` node (5 324 here), as SQL text it is one
    selectExpr per plan level."""
    t = DataTable.from_rows(
        spark, _grid(800), ["id", "qty", "price", "shipped", "note", "region"]
    )
    with _count_py4j_commands() as sent:
        out = t.coerce_types()
    assert [f.dataType.simpleString() for f in out.df.schema.fields] == [
        "bigint", "bigint", "double", "timestamp", "string", "string",
    ]
    assert sent[0] < 500


def _jobs_in_group(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_driver_bound_reads_over_a_literal_run_no_job(spark):
    t = DataTable.from_rows(spark, [["1", "x"], ["2", "y"], ["3", "z"]], ["a", "b"])
    assert _jobs_in_group(spark, "ingest-to-records", t.to_records) == 0
    assert _jobs_in_group(spark, "ingest-render", lambda: t.render("csv")) == 0
    assert t.render("csv").splitlines() == ["a,b", "1,x", "2,y", "3,z"]


def test_explicit_types_run_no_guess(spark, monkeypatch):
    """With an explicit type for every string column there is nothing to
    guess: ``ensure_column_types`` must not build the guess job."""
    calls = []

    def spy(*args, **kwargs):
        calls.append(args[1])
        return _guess_with_counters(*args, **kwargs)

    monkeypatch.setattr(inference, "_guess_with_counters", spy)
    df = spark.createDataFrame([("1", "2.5")], "a string, b string")
    types = inference.ensure_column_types(df, {"a": "bigint", "b": "double"})
    assert {c: t.simpleString() for c, t in types.items()} == {
        "a": "bigint", "b": "double",
    }
    assert calls == []
    inference.ensure_column_types(df, {"a": "bigint"})
    assert calls == [["b"]]


def test_dotted_and_spaced_names_through_ingest(spark):
    t = DataTable.from_rows(spark, [["1", "2.5"], ["2", " 3 "]], ["x.y", "a b"])
    out = t.coerce_types()
    assert [f.dataType.simpleString() for f in out.df.schema.fields] == [
        "bigint", "double",
    ]
    assert out.to_records() == [{"x.y": 1, "a b": 2.5}, {"x.y": 2, "a b": 3.0}]
    assert out.value(col="x.y") == [1, 2]
    assert out.value(1, "x.y") == 2
    assert out.value(1) == [2, 3.0]
    edited = out.set_value(7, 0, "x.y").set_value("z", 1, "a b")
    assert edited.to_records() == [
        {"x.y": 7, "a b": "2.5"}, {"x.y": 2, "a b": "z"},
    ]
    assert edited.set_value([5, 6], col="x.y").value(col="x.y") == [5, 6]
    assert edited.format_for_output().to_records() == [
        {"x.y": "7", "a b": "2.5"}, {"x.y": "2", "a b": "z"},
    ]
    # rows that reach the driver out of order come back in row order
    shuffled = spark.range(40).selectExpr(
        "39 - id AS _row_id", "CAST(id AS STRING) AS `x.y`"
    ).repartition(3)
    u = DataTable(shuffled)
    want = [str(39 - i) for i in range(40)]
    assert [r["x.y"] for r in u.to_records()] == want
    assert [r[0] for r in u.rows()] == want
    assert u.value(col="x.y") == want
    assert u.to_arrow().column("x.y").to_pylist() == want


CLEANING_GRID = [f"{NB}7{NB}", "nil", "NIL", "$1,000.50", "50%", "1.2.3", "abc", "",
                 "99999999999999999999", None]


def test_cleaning_column_and_sql_forms_agree(spark):
    df = spark.createDataFrame([(v,) for v in CLEANING_GRID], "s string")
    via_col = df.select(
        trim_and_nullify("s"), relaxed_double(trim_and_nullify("s")),
        relaxed_long(trim_and_nullify("s")),
    ).collect()
    v = trim_and_nullify_sql("s")
    via_sql = df.selectExpr(v, relaxed_double_sql(v), relaxed_long_sql(v)).collect()
    register_reference_functions(spark)
    via_fn = df.selectExpr(
        "dt_trim_nullify(s)", "dt_relaxed_double(dt_trim_nullify(s))",
        "dt_relaxed_bigint(dt_trim_nullify(s))",
    ).collect()
    got = [tuple(r) for r in via_col]
    assert got == [tuple(r) for r in via_sql] == [tuple(r) for r in via_fn]
    assert got == [
        ("7", 7.0, 7), (None, None, None), (None, None, None),
        ("$1,000.50", 1000.5, None), ("50%", 50.0, 50), ("1.2.3", None, None),
        ("abc", None, None), (None, None, None),
        ("99999999999999999999", 1e20, None), (None, None, None),
    ]
