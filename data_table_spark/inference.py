"""Sampling-based type inference + strict coercion (SURVEY §1.3).

Reproduces the reference's guessing lattice on Spark, as ONE aggregation job
over a bounded sample — never a full scan, never a driver-side transpose:

- sample-rows / *guessing-types-sample-size* = 1000 (data-table.lisp:292-307)
- assign-types-to-column per-value pipeline date→integer→float→string
  (data-table.lisp:309-329)
- lattice resolution: any string → string; {integer} → integer;
  {double-float,ratio,integer} → double-float; else string
  (data-table.lisp:336-343)
- 2^63 demotion: |v| >= 2^63 → string (simplify-types,
  data-table.lisp:266-280; asserted tests/data-table.lisp:199-206)
- strict coercion with bad-type-guess error / assume-column-is-string
  fallback (data-table.lisp:345-355, 387-407)

Documented improvement over the reference: ISO-dateish columns infer as
TIMESTAMP (the reference lets guessed dates degrade to string,
data-table.lisp:343); disable with ``infer_dates=False`` for bug-parity.

Scale notes: the sample is ``df.limit(n)`` (reads only the first partitions
— O(n), not O(table)); candidate counting is one narrow agg over ≤1000 rows;
the coercion audit is a single agg over the full table that Catalyst fuses
with the cast projection. No collect() of data, only of per-column counters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .config import GUESSING_TYPES_SAMPLE_SIZE, LARGEST_NUMBER
from .functions.cleaning import (
    _INT_SYNTAX,
    relaxed_double_sql,
    relaxed_long_sql,
    sql_string,
    strip_numeric_junk_sql,
    trim_and_nullify_sql,
)
from .names import sql_name
from .sources.registry import local_df

_TS_RE = r"^\d{4}-\d{2}-\d{2}([ T]\d{2}:\d{2}(:\d{2}(\.\d+)?)?)?$"
#: 2^63 as DECIMAL(38,0): it does not fit a Java long literal
_BIG = f"CAST('{LARGEST_NUMBER}' AS DECIMAL(38,0))"


class BadTypeGuess(ValueError):
    """Mirror of the ``bad-type-guess`` condition (data-table.lisp:345-355)."""

    def __init__(self, column: str, dtype: str, bad_count: int):
        self.column, self.dtype, self.bad_count = column, dtype, bad_count
        super().__init__(
            f"column {column!r}: {bad_count} value(s) failed strict coercion "
            f"to {dtype} (reference bad-type-guess, data-table.lisp:345-355)"
        )


def simplify_type(value) -> str:
    """Value → 'integer' | 'double-float' | 'string' with 2^63 demotion
    (simplify-types, data-table.lisp:269-280). Driver-side single-value
    classifier kept for API parity (R14)."""
    if isinstance(value, bool):
        return "string"
    if isinstance(value, int):
        return "integer" if abs(value) < LARGEST_NUMBER else "string"
    if isinstance(value, float):
        return "double-float" if abs(value) < LARGEST_NUMBER else "string"
    return "string"


def _facts_sql(i: int) -> list[str]:
    """Per-column facts over the trimmed-and-nullified value ``v<i>``,
    each computed once in the projection under the guess aggregate. The
    double, long and timestamp are ``_cast_sql`` itself, the cast the
    coercion audit applies, so the guess-side failure counters count
    exactly what that audit would."""
    v = f"v{i}"
    s = strip_numeric_junk_sql(v)
    return [
        f"{v} IS NOT NULL AS nn{i}",
        f"{s} RLIKE {sql_string(_INT_SYNTAX)} AS int{i}",
        # 2^63 range check on integer syntax without overflow
        f"COALESCE(ABS(TRY_CAST({s} AS DECIMAL(38,0))) < {_BIG}, FALSE) AS rng{i}",
        f"{_cast_sql(v, T.DoubleType())} AS dbl{i}",
        f"{_cast_sql(v, T.LongType())} AS lng{i}",
        f"{v} RLIKE {sql_string(_TS_RE)} AS tsyn{i}",
        f"{_cast_sql(v, T.TimestampType())} AS ts{i}",
    ]


def _counters_sql(i: int) -> list[str]:
    """Counting expressions for one column's candidate types (runs over the
    sample; equivalent of assign-types-to-column, data-table.lisp:309-329).

    The last three (round-14) count strict-coercion FAILURES per
    candidate type, so when the sample provably covers the whole table
    (facade row-count hint ≤ sample size) the audit's answer is already
    in the guess result and its separate full-table agg job can be
    skipped with a byte-identical outcome (guess_types_with_audit)."""
    nn = f"nn{i}"
    is_int_ok = f"(int{i} AND rng{i})"
    is_dbl_ok = f"(dbl{i} IS NOT NULL AND ABS(dbl{i}) < {float(LARGEST_NUMBER)!r})"
    is_ts = f"(tsyn{i} AND ts{i} IS NOT NULL)"
    # ints with |v| >= 2^63 parse fine as doubles; the reference still
    # demotes them to string (data-table.lisp:274-276)
    bad = (
        f"({nn} AND NOT {is_dbl_ok} AND NOT {is_int_ok} AND NOT {is_ts})"
        f" OR (int{i} AND NOT rng{i})"
    )
    non_int = f"{nn} AND {is_dbl_ok} AND NOT {is_int_ok} AND NOT {is_ts}"
    return [
        f"COUNT(CASE WHEN {cond} THEN 1 END) AS {name}{i}"
        for name, cond in [
            ("nn", nn),
            ("bad", bad),
            ("nonint", non_int),
            ("nonts", f"{nn} AND NOT {is_ts}"),
            ("lbad", f"{nn} AND lng{i} IS NULL"),
            ("dbad", f"{nn} AND dbl{i} IS NULL"),
            ("tbad", f"{nn} AND ts{i} IS NULL"),
        ]
    ]


def guess_types(
    df: DataFrame,
    columns: list[str] | None = None,
    sample_size: int = GUESSING_TYPES_SAMPLE_SIZE,
    infer_dates: bool = True,
    sample_mode: str = "head",
) -> dict[str, T.DataType]:
    """Infer a Spark type per (string) column from a bounded sample.
    ``columns=None`` guesses every string column; ``[]`` guesses none.

    One job: sample → single agg of 4 counters per column
    (guess-types-for-data-table, data-table.lisp:331-343).

    sample_mode:
    - 'head' (default): ``limit(n)`` — reads only the first partitions,
      O(n) regardless of table size; the right default at 100 TB.
    - 'reservoir': distributed reservoir via ``rdd.takeSample`` — exact
      parity with the reference's sample-rows (data-table.lisp:295-307),
      but scans the full table once; opt in when head rows are biased
      (e.g. a sorted file whose early rows are all-numeric).
    """
    if columns is None:
        columns = [
            f.name for f in df.schema.fields
            if isinstance(f.dataType, T.StringType)
        ]
    if not columns:
        return {}
    types, _ = _guess_with_counters(
        df, columns, sample_size, infer_dates, sample_mode
    )
    return types


def _guess_with_counters(
    df: DataFrame,
    columns: list[str],
    sample_size: int,
    infer_dates: bool,
    sample_mode: str,
) -> tuple[dict[str, T.DataType], dict[str, int]]:
    """guess_types' engine: one agg job over the sample; returns the
    resolved types AND the sample-side strict-coercion failure count for
    each column's PICKED type (0 for string picks — strings never fail)."""
    picked = df.selectExpr(*[sql_name(c) for c in columns])
    if sample_mode == "reservoir":
        rows = picked.rdd.takeSample(False, sample_size, seed=42)
        if not rows:
            return {c: T.StringType() for c in columns}, dict.fromkeys(columns, 0)
        # ≤1000 sampled rows: one Arrow LocalRelation, no python worker
        sample = local_df(df.sparkSession, rows, picked.schema)
    else:
        sample = picked.limit(sample_size)
    # SQL text, one selectExpr per plan level: the trimmed values, the
    # facts over them, the counters over the facts
    idx = range(len(columns))
    row = (
        sample.selectExpr(
            *[
                f"{trim_and_nullify_sql(sql_name(c))} AS v{i}"
                for i, c in enumerate(columns)
            ]
        )
        .selectExpr(*[e for i in idx for e in _facts_sql(i)])
        .selectExpr(*[e for i in idx for e in _counters_sql(i)])
        .collect()[0]
        .asDict()
    )
    out: dict[str, T.DataType] = {}
    bad_counts: dict[str, int] = {}
    for i, c in enumerate(columns):
        nn, bad, nonint, nonts = (
            row[f"nn{i}"], row[f"bad{i}"], row[f"nonint{i}"], row[f"nonts{i}"],
        )
        if nn == 0 or bad > 0:
            out[c] = T.StringType()       # any string candidate wins (lisp:337-338, 343)
            bad_counts[c] = 0
        elif infer_dates and nonts == 0:
            out[c] = T.TimestampType()    # documented improvement (SURVEY §1.3)
            bad_counts[c] = row[f"tbad{i}"]
        elif nonint == 0:
            out[c] = T.LongType()         # exactly {integer} (lisp:339-340)
            bad_counts[c] = row[f"lbad{i}"]
        else:
            out[c] = T.DoubleType()       # {int,double} mix (lisp:341-342)
            bad_counts[c] = row[f"dbad{i}"]
    return out, bad_counts


def guess_types_with_audit(
    df: DataFrame,
    columns: list[str] | None = None,
    sample_size: int = GUESSING_TYPES_SAMPLE_SIZE,
    infer_dates: bool = True,
) -> tuple[dict[str, T.DataType], dict[str, int]]:
    """guess_types PLUS the strict-coercion audit answer, in the same
    single agg job — valid ONLY when the caller guarantees the table has
    at most ``sample_size`` rows (then the head sample IS the table, so
    the per-type failure counters equal what coerce_table's audit agg
    would count over the full table; the counter expressions are built
    from the same ``_cast_sql`` the audit uses, so the identity
    is textual). Callers with unknown or larger row counts must keep
    the two-job guess-then-audit path."""
    if columns is None:
        columns = [
            f.name for f in df.schema.fields
            if isinstance(f.dataType, T.StringType)
        ]
    if not columns:
        return {}, {}
    return _guess_with_counters(df, columns, sample_size, infer_dates, "head")


def ensure_column_types(
    df: DataFrame,
    explicit: dict[str, T.DataType] | None = None,
    sample_size: int = GUESSING_TYPES_SAMPLE_SIZE,
    infer_dates: bool = True,
) -> dict[str, T.DataType]:
    """Merge explicitly-provided types over inferred ones; only guess where
    needed (ensure-column-data-types, data-table.lisp:371-385: keeps any
    explicit non-string types, guesses the rest). DDL-string specs are
    normalized to DataType so downstream isinstance dispatch (relaxed
    double / junk-stripping int paths) still applies."""
    explicit = {
        c: (T.DataType.fromDDL(t) if isinstance(t, str) else t)
        for c, t in (explicit or {}).items()
    }
    need = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, T.StringType) and f.name not in explicit
    ]
    guessed = guess_types(df, need, sample_size, infer_dates)
    guessed.update(explicit)
    return guessed


def _cast_sql(v: str, dtype: T.DataType) -> str:
    """Strict-coercion cast over an already trim-and-nullified SQL value —
    the ONE definition the coercion projection, its audit and the
    guess-side failure counters all use."""
    if isinstance(dtype, T.DoubleType):
        return relaxed_double_sql(v)
    if isinstance(dtype, T.LongType):
        return relaxed_long_sql(v)
    if isinstance(dtype, T.IntegerType):
        return f"TRY_CAST({relaxed_long_sql(v)} AS INT)"
    if isinstance(dtype, T.TimestampType):
        return f"TRY_TO_TIMESTAMP({v})"
    if isinstance(dtype, T.StringType):
        return v
    return f"TRY_CAST({v} AS {dtype.simpleString()})"


def coerce_table(
    df: DataFrame,
    types: dict[str, T.DataType],
    on_error: str = "string",
    _audit_counts: dict[str, int] | None = None,
) -> DataFrame:
    """Cast string columns to their target types with the reference's strict
    semantics (coerce-data-table-of-strings-to-types, data-table.lisp:387-407).

    Spark's cast is NULL-on-failure; the reference RAISES. We audit in one
    agg: count rows where the raw value was non-null but the cast came out
    NULL. ``on_error='raise'`` reproduces the bad-type-guess error;
    ``'string'`` reproduces the assume-column-is-string restart (the whole
    column stays string). ``'null'`` keeps the nulls (lenient mode, not in
    the reference).

    Type specs may be DataType instances or DDL strings ("bigint",
    "decimal(10,2)") — strings are normalized up front so the
    StringType short-circuit and error paths see real types.
    """
    if on_error not in ("raise", "string", "null"):
        # an unrecognized policy must not silently become lenient-null —
        # the reference's restart names are a closed set (lisp:398-404)
        raise ValueError(
            f"on_error must be 'raise', 'string', or 'null'; got {on_error!r}"
        )
    types = {
        c: (T.DataType.fromDDL(t) if isinstance(t, str) else t)
        for c, t in types.items()
    }
    targets = {
        c: t
        for c, t in types.items()
        if c in df.columns and not isinstance(t, T.StringType)
    }
    str_cols = [c for c, t in types.items() if isinstance(t, T.StringType) and c in df.columns]
    if not targets and not str_cols:
        return df
    if targets and on_error in ("raise", "string"):
        if _audit_counts is not None:
            # caller already holds the full-table audit answer (the
            # guess_types_with_audit single-job path — only legal when
            # the guess sample covered every row); same counts, one
            # fewer full-table agg job
            bad = {c: _audit_counts.get(c, 0) for c in targets}
        else:
            audits = []
            for c, t in targets.items():
                v = trim_and_nullify_sql(sql_name(c))
                audits.append(
                    f"COUNT(CASE WHEN {v} IS NOT NULL AND {_cast_sql(v, t)} IS NULL"
                    " THEN 1 END)"
                )
            bad = dict(zip(targets, df.selectExpr(*audits).collect()[0]))
        for c, cnt in bad.items():
            if cnt and cnt > 0:
                if on_error == "raise":
                    raise BadTypeGuess(c, targets[c].simpleString(), cnt)
                del targets[c]   # assume-column-is-string (lisp:398-404)
                str_cols.append(c)
    out_cols = []
    for f in df.schema.fields:
        n = sql_name(f.name)
        if f.name in targets:
            v = trim_and_nullify_sql(n)
            out_cols.append(f"{_cast_sql(v, targets[f.name])} AS {n}")
        elif f.name in str_cols:
            out_cols.append(f"{trim_and_nullify_sql(n)} AS {n}")
        else:
            out_cols.append(n)
    return df.selectExpr(*out_cols)


def auto_type(
    df: DataFrame,
    explicit: dict[str, T.DataType] | None = None,
    sample_size: int = GUESSING_TYPES_SAMPLE_SIZE,
    on_error: str = "string",
    infer_dates: bool = True,
) -> DataFrame:
    """End-to-end: infer missing types then coerce — the engine's equivalent
    of ``get-data-table :auto-type t`` (clsql-data-table.lisp:13-19)."""
    types = ensure_column_types(df, explicit, sample_size, infer_dates)
    return coerce_table(df, types, on_error=on_error)
