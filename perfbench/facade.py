"""The facade-session workload: one ``DataTable`` report session.

Each pass ingests two seeded string grids (800 and 4 000 rows, either
side of the 1000-row type-guessing sample, so both the one-job and the
two-job coerce paths run) and an auto-typed SQL result, then makes two
rounds of positional reads and writes at seeded positions: cell reads,
a sub-table read back as records, a compare, a CSV render, cell writes,
an overlay, an added column, and DDL sizing plus an import into a
catalog table. Every write is read back by one action. Expected outputs
are computed in Python from the seeded grid.
"""

from __future__ import annotations

import datetime as dt
import os
import re
import time

import numpy as np
import pyarrow.parquet as pq

import datagen
from tracing import NullTracer

WARMUP_PASS = 99_999

SMALL, LARGE = 800, 4_000
ROUNDS = 2  # each kind of read and write runs this often per timed pass
SQL_SF = 0.01
SQL_K = 3  # rows with l_linenumber <= SQL_K
SQL = (
    "SELECT CAST(l_orderkey AS STRING) AS orderkey, "
    "CAST(l_quantity AS STRING) AS quantity, "
    "CAST(l_extendedprice AS STRING) AS price, "
    "CAST(l_shipdate AS STRING) AS shipdate, l_returnflag AS flag "
    "FROM lineitem WHERE l_linenumber <= {k}"
)
SQL_TYPES = ["bigint", "double", "double", "timestamp", "string"]
GRID_TYPES = ["bigint", "bigint", "double", "timestamp", "string", "string"]
_TRIM = re.compile(r"^[\s\xa0]+|[\s\xa0]+$")


def typed(kind: str, cell: str):
    """The value ``coerce_types`` must produce for one grid cell."""
    t = _TRIM.sub("", cell)
    if t.lower() in ("", "nil"):
        return None
    if kind in ("id", "qty"):
        return int(t.replace(",", ""))
    if kind == "price":
        return float(t.replace(",", ""))
    if kind == "shipped":
        return dt.datetime.fromisoformat(t)
    return t


def _pow2(n: int) -> int:
    return 1 if n <= 1 else 1 << (n - 1).bit_length()


def _model(grid: list[list[str]]) -> list[list]:
    return [[typed(k, c) for k, c in zip(datagen.GRID_COLUMNS, row)] for row in grid]


class FacadeWorkload:
    pass_s = 18.0  # nominal seconds per pass

    def __init__(self, name: str, run_dir: str, seed: int, perturb: bool):
        self.seed = seed
        self.perturb = perturb
        self.sf_dir = os.path.join(run_dir, f"sf{SQL_SF}")

    def prepare(self) -> None:
        datagen.write_tables(self.sf_dir, SQL_SF, self.seed)
        ks = pq.read_table(
            os.path.join(self.sf_dir, "lineitem.parquet"), columns=["l_linenumber"]
        ).column(0).to_numpy()
        self.sql_rows = int((ks <= SQL_K).sum())
        self.small = datagen.facade_grid(self.seed, SMALL)
        self.large = datagen.facade_grid(self.seed, LARGE)
        self.model = _model(self.small)
        self.large_model = _model(self.large[:200])

    def load(self, spark) -> None:
        from data_table_spark.core import DataTable
        from data_table_spark.plans import ddl
        from data_table_spark.sources.registry import load_table
        from data_table_spark.sources.sql import get_data_table

        self.DataTable, self.ddl, self.get_data_table = DataTable, ddl, get_data_table
        load_table(spark, "lineitem", self.sf_dir).createOrReplaceTempView("lineitem")

    def warmup(self, spark) -> None:
        """One untimed pass with each kind of op once: the session's
        first use of every call."""
        self.run_pass(spark, WARMUP_PASS, NullTracer(), warm=True)

    def check(self, records: list[dict]) -> None:
        pass  # every op is checked as soon as it returns

    def run_pass(self, spark, pass_no: int, tracer, warm: bool = False) -> list[dict]:
        DataTable, ddl = self.DataTable, self.ddl
        rng = np.random.default_rng([self.seed, 2, pass_no])
        n, cols = len(self.small), datagen.GRID_COLUMNS
        recs: list[dict] = []
        state: dict = {}

        def op(kind, name, fn, check):
            rec = {"kind": kind, "name": name}
            t0 = time.perf_counter()
            try:
                with tracer.op(f"p{pass_no}.{len(recs)}", name):
                    out = fn()
                rec["t"] = time.perf_counter() - t0
                rec["ok"] = bool(check(out))
            except Exception as e:
                rec["t"] = time.perf_counter() - t0
                rec["ok"] = False
                rec["error"] = f"{type(e).__name__}: {e}"[:300]
            recs.append(rec)

        def types_of(t):
            return [f.dataType.simpleString() for f in t.df.schema.fields]

        grid_types = list(GRID_TYPES)
        if self.perturb:
            grid_types[1] = "double"

        # ingest: every later op needs these tables
        def ingest_small():
            state["t"] = DataTable.from_rows(spark, self.small, cols).coerce_types()
            return state["t"]

        def ingest_large():
            state["big"] = DataTable.from_rows(spark, self.large, cols).coerce_types()
            return state["big"]

        op("ingest", "from_rows+coerce_types.small", ingest_small,
           lambda t: types_of(t) == grid_types and t.number_of_rows == n)
        op("ingest", "from_rows+coerce_types.large", ingest_large,
           lambda t: types_of(t) == grid_types and t.number_of_rows == len(self.large))
        op("ingest", "get_data_table.auto_type",
           lambda: self.get_data_table(spark, SQL.format(k=SQL_K), auto_type_result=True),
           lambda t: types_of(t) == SQL_TYPES
           and t.number_of_rows == self.sql_rows)
        if "t" not in state or "big" not in state:
            return recs
        t, big = state["t"], state["big"]

        def pos():
            return int(rng.integers(0, n)), int(rng.integers(0, len(cols)))

        def read_value():
            r, c = pos()
            op("read", "value", lambda: t.value(r, c), lambda v: v == self.model[r][c])

        def read_records():
            lo = int(rng.integers(0, len(self.large_model) - 20))
            lci = int(rng.integers(0, 3))
            want = [dict(zip(cols[lci:], row[lci:])) for row in self.large_model[lo:lo + 20]]
            op("read", "sub_table+to_records",
               lambda: big.sub_table(lci, None, lo, lo + 20).to_records(),
               lambda got: got == want)

        def read_compare():
            r = int(rng.integers(0, n))
            same = bool(rng.integers(0, 2))
            c = int(rng.integers(0, len(cols))) if same else 4
            other = t.set_value(self.model[r][c] if same else "changed", r, c)
            op("read", "compare", lambda: t.compare(other), lambda eq: eq == same)

        def read_render():
            op("read", "render.csv", lambda: t.format_for_output().render("csv"),
               lambda s: _render_ok(s, self.model, cols))

        def write_value():
            r = int(rng.integers(0, n))
            c, v = [(1, int(rng.integers(0, 10**6))), (2, float(rng.integers(0, 10**4)) / 4),
                    (4, f"w{pass_no}")][int(rng.integers(0, 3))]
            op("write", "set_value", lambda: t.set_value(v, r, c).value(r, c),
               lambda got: got == v)

        def write_overlay():
            r = int(rng.integers(0, n - 2))
            block = [[f"o{pass_no}a", f"o{pass_no}b"], [f"o{pass_no}c", f"o{pass_no}d"]]
            i, j = int(rng.integers(0, 2)), int(rng.integers(0, 2))

            def fn():
                new = DataTable.from_rows(spark, block)
                return t.overlay_region(new, r, 4).value(r + i, 4 + j)

            op("write", "overlay_region", fn, lambda got: got == block[i][j])

        def write_column():
            r = int(rng.integers(0, n))
            default = int(rng.integers(0, 1000))
            op("write", "add_column",
               lambda: t.add_column("extra", default, index=2).value(r, "extra"),
               lambda got: got == default)

        def write_import():
            want = _expected_ddl(self.model)

            def fn():
                text = ddl.create_table_ddl(t.df, "report")
                rows = ddl.import_dataframe(spark, t.df, f"report_{pass_no}_{len(recs)}")
                return text, rows

            op("write", "create_table_ddl+import_dataframe", fn,
               lambda out: out == (want, n))

        kinds = [read_value, read_records, read_compare, read_render,
                 write_value, write_overlay, write_column, write_import]
        # cell reads and writes are the session's most common calls
        steps = kinds if warm else ROUNDS * (kinds + [read_value] * 3 + [write_value] * 2)
        for k in rng.permutation(len(steps)):
            steps[k]()
        return recs


def _render_ok(text: str, model: list[list], cols: list[str]) -> bool:
    lines = text.splitlines()
    if lines[0] != ",".join(cols) or len(lines) != len(model) + 1:
        return False
    ids = [line.split(",", 1)[0] for line in lines[1:]]
    return ids == [str(row[0]) for row in model]


def _expected_ddl(model: list[list]) -> str:
    def width(c):
        vals = [len(row[c]) for row in model if row[c] is not None]
        return _pow2(max(vals) if vals else 1)

    def int_type(c):
        vals = [row[c] for row in model if row[c] is not None]
        return "INT" if vals and min(vals) >= -(2**31) and max(vals) <= 2**31 - 1 else "BIGINT"

    body = ",\n  ".join([
        f"id {int_type(0)}", f"qty {int_type(1)}", "price DOUBLE PRECISION",
        "shipped TIMESTAMP", f"note VARCHAR({width(4)})", f"region VARCHAR({width(5)})",
    ])
    return f"CREATE TABLE report (\n  {body}\n)"
