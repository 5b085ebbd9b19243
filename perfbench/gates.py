"""Gate workloads: oracle-backed query builders from ``__spark_entry__``.

One operation builds one gate's DataFrame and materialises it to Arrow
on the driver. Outputs are reduced to an order-insensitive digest
outside the timer and compared, after the timed phase, with the
gate's DuckDB ``oracle_sql()`` at the same scale factor.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

import datagen

#: gates whose fixed cost per gate dominates: one footer-inference job
#: per parquet read, Catalyst planning and job scheduling
SHORT = (
    "q01_scan_project q02_filter q04_inner_join q05_multiway_join "
    "q12_group_agg q18_row_number q27_strings q33_events_tumbling "
    "q181_tpch_q14_promo dedup_exact"
).split()
#: gates dominated by eager checkpoint jobs, shuffles and the two
#: sorted-partition mapInPandas folds
HEAVY = "q106_triangle_count udf_ewma_state udf_capped_sessions".split()
#: (gate, scale factor) of one pass
PLAN = [(g, 0.1) for g in SHORT] + [(g, 0.01) for g in HEAVY]
#: the warm-up pass runs every gate once at this scale factor
WARMUP_SF = 0.002
_NULL_INT = -(2**63) + 7
_NULL_FLOAT = -1.2345e300


def digest(tbl: pa.Table) -> tuple:
    """(column names, value kinds, sorted row hashes) of ``tbl``, with
    the oracle comparison's rules: names compared lower-case and in
    sorted order, floats rounded to 6 decimals, ints and floats kept
    distinct, timestamps compared as UTC microseconds."""
    order = sorted(range(tbl.num_columns), key=lambda i: tbl.schema.names[i].lower())
    names, kinds, cols = [], [], {}
    for i in order:
        a, t = tbl.column(i), tbl.schema.types[i]
        if pa.types.is_timestamp(t):
            a = a.cast(pa.timestamp("us")).cast(pa.int64())
            kind = "t"
        elif pa.types.is_date(t):
            a = a.cast(pa.int32()).cast(pa.int64())
            kind = "t"
        elif pa.types.is_integer(t) or pa.types.is_boolean(t):
            a = a.cast(pa.int64())
            kind = "b" if pa.types.is_boolean(t) else "i"
        elif pa.types.is_floating(t):
            kind = "f"
        else:
            kind = "s"
        if kind == "f":
            v = pc.fill_null(a.cast(pa.float64()), _NULL_FLOAT).to_numpy()
            v = np.round(v, 6) + 0.0
        elif kind == "s":
            v = [None if x is None else str(x) for x in a.to_pylist()]
        else:
            v = pc.fill_null(a, _NULL_INT).to_numpy()
        names.append(tbl.schema.names[i].lower())
        kinds.append(kind)
        cols[str(len(cols))] = v
    frame = pd.DataFrame(cols) if cols else pd.DataFrame(index=range(tbl.num_rows))
    h = np.sort(pd.util.hash_pandas_object(frame, index=False).to_numpy())
    return tuple(names), tuple(kinds), h


def same(a: tuple, b: tuple) -> bool:
    return a[0] == b[0] and a[1] == b[1] and np.array_equal(a[2], b[2])


class GateWorkload:
    pass_s = 7.0  # nominal seconds per pass

    def __init__(self, name: str, run_dir: str, seed: int, perturb: bool):
        self.seed = seed
        self.perturb = perturb
        self.run_dir = run_dir
        self.gates = [g for g, _ in PLAN]
        self.sf_dir = {g: self._dir(sf) for g, sf in PLAN}

    def _dir(self, sf: float) -> str:
        return os.path.join(self.run_dir, f"sf{sf}")

    def prepare(self) -> None:
        """Write the seeded inputs (not part of set-up time)."""
        for sf in sorted({sf for _, sf in PLAN} | {WARMUP_SF}):
            datagen.write_tables(self._dir(sf), sf, self.seed)

    def load(self, spark) -> None:
        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        missing = [g for g in self.gates if g not in self.queries or g not in self.oracles]
        if missing:
            raise SystemExit(f"gates without a builder or oracle: {missing}")

    def warmup(self, spark) -> None:
        for g in np.random.default_rng([self.seed, 0]).permutation(self.gates):
            self.queries[g](spark, self._dir(WARMUP_SF)).toArrow()

    def run_pass(self, spark, pass_no: int, tracer) -> list[dict]:
        recs = []
        order = np.random.default_rng([self.seed, 1, pass_no]).permutation(self.gates)
        for k, g in enumerate(order):
            rec = {"kind": "gate", "name": g}
            t0 = time.perf_counter()
            try:
                with tracer.op(f"p{pass_no}.{k}", g):
                    with tracer.span("operators.build"):
                        df = self.queries[g](spark, self.sf_dir[g])
                    if tracer.enabled:
                        with tracer.span("planner.plan") as s:
                            qe = df._jdf.queryExecution()
                            qe.executedPlan()
                            phases = qe.tracker().phases()
                            for ph in ("analysis", "optimization", "planning"):
                                opt = phases.get(ph)
                                if opt.isDefined():
                                    s[ph] = opt.get().durationMs()
                    with tracer.span("exec.action"):
                        out = df.toArrow()
                rec["t"] = time.perf_counter() - t0
                rec["digest"] = digest(out)
            except Exception as e:  # a failing gate counts, the run goes on
                rec["t"] = time.perf_counter() - t0
                rec["error"] = f"{type(e).__name__}: {e}"[:300]
            recs.append(rec)
        return recs

    def check(self, records: list[dict]) -> None:
        """Mark each record ok/failed against the DuckDB oracle."""
        from tests.oracle_util import duck_connection

        expected, cons = {}, {}
        for g in self.gates:
            d = self.sf_dir[g]
            con = cons[d] = cons.get(d) or duck_connection(d)
            tbl = con.sql(self.oracles[g]).arrow()
            if self.perturb and g == self.gates[0]:
                tbl = tbl.slice(1) if tbl.num_rows else tbl.append_column(
                    "perturbed", pa.array([], pa.int64())
                )
            expected[g] = digest(tbl)
        for con in cons.values():
            con.close()
        for rec in records:
            got = rec.pop("digest", None)
            rec["ok"] = got is not None and same(got, expected[rec["name"]])
