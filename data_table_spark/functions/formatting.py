"""Output formatting reproducing coerce-value-for-output semantics.

Reference (into /root/reference/):
- data-table.lisp:437-454 — null→"", real→``~,2f`` (2 decimals),
  integer→princ-to-string, list→join with ``*list-delimiter*`` (", ").
- data-table.lisp:450 calls ``coerce-value-to-string`` which the reference
  never defines (latent extension hook); we define list rendering concretely
  as recursive element formatting joined by the delimiter (SURVEY §7.6).

All pure Column expressions — codegen-friendly, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import LIST_DELIMITER


def format_value(col: Column, dtype: T.DataType, delimiter: str = LIST_DELIMITER) -> Column:
    """Render one column to its display string per reference rules."""
    if isinstance(dtype, (T.DoubleType, T.FloatType, T.DecimalType)):
        formatted = F.format_number(col.cast("double"), 2)
        # format_number inserts thousands separators; the reference's ~,2f
        # does not. Strip them.
        formatted = F.regexp_replace(formatted, ",", "")
    elif isinstance(dtype, T.ArrayType):
        formatted = F.array_join(
            F.transform(col, lambda x: format_value(x, dtype.elementType, delimiter)),
            delimiter,
        )
    elif isinstance(dtype, (T.TimestampType, T.DateType)):
        formatted = col.cast("string")
    else:
        formatted = col.cast("string")
    return F.coalesce(formatted, F.lit(""))
