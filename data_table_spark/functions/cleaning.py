"""Reference-semantics scalar cleaning functions as pure Column expressions.

Everything here is built from ``pyspark.sql.functions`` so it stays inside
whole-stage codegen — no Python UDFs on the hot path. Each function also has
a SQL-text twin (``*_sql``) so the same semantics can be spliced into
Spark SQL text (a zero-cost alternative to UDF registration, and one
py4j call for a whole projection where Column building makes one per
``F.*`` node). Both forms are built from the same regex constants.

Reference citations (into /root/reference/):
- trim-whitespace / trim-and-nullify: data-table.lisp:40-56
  (whitespace bag includes NBSP #\\xa0; "" and "nil"/"NIL" → NULL)
- relaxed-parse-float: data-table.lisp:74-90
  (strip ``\\s $ , %`` then parse; "$1,000.50"→1000.5, "50%"→50.0)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Regex for the reference's trimbag: ASCII whitespace + NBSP (U+00A0).
_TRIM_EDGE = r"^[\s ]+|[\s ]+$"

#: Characters stripped by relaxed numeric parsing (data-table.lisp:86).
_NUMERIC_JUNK = r"[\s $,%]"

#: Integer syntax after the junk strip (parse-integer, data-table.lisp:322).
_INT_SYNTAX = r"^[+-]?[0-9]+$"


def trim_whitespace(col: Column | str) -> Column:
    """NBSP-aware trim (data-table.lisp:45-46)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, _TRIM_EDGE, "")


def trim_and_nullify(col: Column | str) -> Column:
    """Trim; then ``""`` or case-insensitive ``"nil"`` → NULL
    (data-table.lisp:48-56)."""
    t = trim_whitespace(col)
    return F.when(F.lower(t).isin("", "nil"), F.lit(None).cast("string")).otherwise(t)


def relaxed_double(col: Column | str) -> Column:
    """Lenient numeric parse: strip whitespace/$/,/% then cast to double
    (data-table.lisp:74-90). Unparseable → NULL (caller decides policy)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, _NUMERIC_JUNK, "").try_cast("double")


def relaxed_long(col: Column | str) -> Column:
    """Integer variant of the lenient parse: strips junk then casts to long.
    Strings with a fractional part do NOT parse as integers (mirrors
    ``parse-integer`` strictness, data-table.lisp:322)."""
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(c, _NUMERIC_JUNK, "")
    # invariant: only strings matching an integer literal parse; the regex
    # guard makes that explicit rather than relying on string→long cast
    # behavior, which differs across Spark versions and ANSI modes, and
    # try_cast keeps an out-of-range integer NULL under ANSI.
    return F.when(stripped.rlike(_INT_SYNTAX), stripped.try_cast("long")).otherwise(
        F.lit(None).cast("long")
    )


# --- SQL-text twins (for splicing into Spark SQL text) ---
# Each formats the same regex constants as its Column twin above.

def sql_string(text: str) -> str:
    """``text`` as a Spark SQL string literal (backslash escapes are
    processed, the default of ``spark.sql.parser.escapedStringLiterals``)."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def trim_and_nullify_sql(expr: str) -> str:
    t = f"REGEXP_REPLACE({expr}, {sql_string(_TRIM_EDGE)}, '')"
    return f"CASE WHEN LOWER({t}) IN ('', 'nil') THEN NULL ELSE {t} END"


def strip_numeric_junk_sql(expr: str) -> str:
    return f"REGEXP_REPLACE({expr}, {sql_string(_NUMERIC_JUNK)}, '')"


def relaxed_double_sql(expr: str) -> str:
    return f"TRY_CAST({strip_numeric_junk_sql(expr)} AS DOUBLE)"


def relaxed_long_sql(expr: str) -> str:
    s = strip_numeric_junk_sql(expr)
    return (
        f"CASE WHEN {s} RLIKE {sql_string(_INT_SYNTAX)} "
        f"THEN TRY_CAST({s} AS BIGINT) END"
    )
