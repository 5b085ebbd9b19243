"""Column-name canonicalization, resolution, and duplicate repair.

Reference (into /root/reference/):
- symbolize-column-names: "first name" → :first-name  (data-table.lisp:109-117)
- column-index resolution by index / symbol / case-insensitive string
  (data-table.lisp:409-414; string-equal at 414)
- clean-name-for-db collapses ``_()+-.,?|`` + whitespace runs to single
  spaces (clsql-data-table.lisp:30-32)
- english->postgres (snake_case, clsql-data-table.lisp:38-41),
  english->mssql (StudlyCase, clsql-data-table.lisp:34-36)
- duplicate repair with numeric suffixes name, name_1, name_2…
  (check-for-duplicate-columns, clsql-data-table.lisp:145-181)

Pure Python — runs on the driver against schema metadata only, never data.
"""

from __future__ import annotations

import re


class DuplicateColumnNameError(ValueError):
    """Mirror of the ``duplicate-column-name`` condition
    (clsql-data-table.lisp:139-143)."""


def clean_name_for_db(name: str) -> str:
    """Collapse ``_()+-.,?|`` and whitespace runs to single spaces, trim
    (clean-name-for-db, clsql-data-table.lisp:30-32)."""
    return re.sub(r"[_()+\-.,?|\s ]+", " ", str(name)).strip()


def english_to_postgres(name: str) -> str:
    """"Some Col Name" → ``some_col_name`` (clsql-data-table.lisp:38-41)."""
    return clean_name_for_db(name).lower().replace(" ", "_")


def english_to_mssql(name: str) -> str:
    """"some col name" → ``SomeColName`` (clsql-data-table.lisp:34-36)."""
    return "".join(w.capitalize() for w in clean_name_for_db(name).split(" "))


def symbolize_name(name: str) -> str:
    """Keyword-style canonical name: "First Name" → ``first-name``
    (symbolize-column-names, data-table.lisp:109-117)."""
    return re.sub(r"[\s _]+", "-", str(name).strip().lower())


def spark_safe_name(name: str) -> str:
    """Snake-case identifier safe for Spark SQL without backticks."""
    s = english_to_postgres(name)
    if not s:
        s = "col"
    if s[0].isdigit():
        s = "c_" + s
    return s


def sql_name(name: str) -> str:
    """Any column name as a Spark SQL identifier: backticks around it,
    a backtick inside doubled (``x.y`` stays one column, not a field)."""
    return "`" + name.replace("`", "``") + "`"


def dedupe_names(names: list[str], on_duplicate: str = "suffix") -> list[str]:
    """Repair duplicate names with numeric suffixes, case-insensitively:
    ``d, d, x, d`` → ``d, d_1, x, d_2`` (clsql-data-table.lisp:145-181).

    on_duplicate='raise' raises instead (the bare condition path).
    """
    seen: dict[str, int] = {}
    taken = {str(n).lower() for n in names}
    out: list[str] = []
    for n in names:
        key = str(n).lower()
        if key not in seen:
            seen[key] = 0
            out.append(n)
            continue
        if on_duplicate == "raise":
            raise DuplicateColumnNameError(f"duplicate column name: {n!r}")
        # find next free suffix (case-insensitive, like string-equal)
        i = seen[key]
        while True:
            i += 1
            candidate = f"{n}_{i}"
            if candidate.lower() not in taken:
                break
        seen[key] = i
        taken.add(candidate.lower())
        out.append(candidate)
    return out


def resolve_column(columns: list[str], ref: int | str) -> int:
    """Resolve a column reference (index or case-insensitive name) to its
    positional index (column-index, data-table.lisp:409-414).

    Raises KeyError when a name is absent (select-columns errors on missing
    names, data-table.lisp:196-200).
    """
    if isinstance(ref, int):
        if not (-len(columns) <= ref < len(columns)):
            raise IndexError(f"column index {ref} out of range (ncols={len(columns)})")
        return ref % len(columns)
    target = str(ref).lower()
    for i, c in enumerate(columns):
        if c.lower() == target:
            return i
    # symbol-style match: "first-name" ≡ "first name" (data-table.lisp:409-414)
    target_sym = symbolize_name(target)
    for i, c in enumerate(columns):
        if symbolize_name(c) == target_sym:
            return i
    raise KeyError(f"no column named {ref!r} in {columns}")
