"""DataTable — a thin facade over pyspark.sql.DataFrame reproducing the
reference's data-table semantics (SURVEY §1, §2.1 R1-R26).

The reference (AccelerationNet/data-table, /root/reference/data-table.lisp)
is a mutable, row-ordered, in-memory rectangle. Spark DataFrames are
immutable and unordered, so the facade:

- keeps a hidden ``_row_id`` column stamped at ingest (dense 0-based,
  computed distributed — per-partition counts + cumulative offsets, no
  single-partition window, no RDD round-trip);
- implements every order-sensitive op (cell get/set, sub-table, overlay,
  ordered compare) relative to ``_row_id``;
- mirrors the reference's mutate-vs-copy split: ``…_bang`` methods rebind
  this facade in place, plain methods return a new facade
  (e.g. symbolize-column-names! data-table.lisp:114-117).

Positional ops are meaningful for the report-building workloads the
reference targets (reference README.md:14-17); the 100 TB hot path is the
relational surface (operators/relational.py), which never touches _row_id.
"""

from __future__ import annotations

from operator import itemgetter
from typing import Any, Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .config import DEFAULT_CONFIG, EngineConfig
from .functions.formatting import format_value
from .inference import (
    auto_type,
    coerce_table,
    ensure_column_types,
    guess_types,
    guess_types_with_audit,
)
from .names import (
    dedupe_names,
    resolve_column,
    spark_safe_name,
    sql_name,
    symbolize_name,
)
from .sources.registry import local_df

ROW_ID = "_row_id"


def with_row_id(df: DataFrame, col: str = ROW_ID) -> DataFrame:
    """Stamp a dense sequential 0-based row id preserving current order.

    Distributed zipWithIndex in pure DataFrame ops: per-partition local
    row_number + broadcast-joined cumulative partition offsets. Two light
    jobs; no global sort, no single-partition window (scale-safe).
    """
    if col in df.columns:
        return df
    pid = F.spark_partition_id()
    mono = F.monotonically_increasing_id()
    tagged = df.withColumn("_dt_pid", pid).withColumn("_dt_mono", mono)
    w = Window.partitionBy("_dt_pid").orderBy("_dt_mono")
    local = tagged.withColumn("_dt_local", F.row_number().over(w) - 1)
    offsets = (
        tagged.groupBy("_dt_pid").count()
        .withColumn(
            "_dt_offset",
            F.coalesce(
                F.sum("count").over(
                    Window.orderBy("_dt_pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("_dt_pid", "_dt_offset")
    )
    out = (
        local.join(F.broadcast(offsets), "_dt_pid")
        .withColumn(col, (F.col("_dt_local") + F.col("_dt_offset")).cast("long"))
        .drop("_dt_pid", "_dt_mono", "_dt_local", "_dt_offset")
    )
    return out


class DataTable:
    """Facade: user-visible columns exclude ``_row_id``.

    Reference: data-table class, data-table.lisp:94-98 (slots column-names /
    column-types / rows → DataFrame schema + hidden order column).
    """

    def __init__(self, df: DataFrame, config: EngineConfig = DEFAULT_CONFIG,
                 _has_row_id: bool = False, _n_rows: int | None = None):
        self._df = df if _has_row_id or ROW_ID in df.columns else with_row_id(df)
        self.config = config
        # Statically-known row count (round-14, guide §1.2: don't run
        # jobs for answers the driver already holds). Facade tables are
        # built from driver-side rows with a dense 0..n-1 _row_id, so
        # len(rows) IS the count; row-count-preserving operations carry
        # it forward and everything else drops it (None → count() job,
        # exactly the old behavior). Never an estimate: a hint is only
        # ever set where the count is provably exact.
        self._n_rows = _n_rows

    # ---------- constructors ----------

    @classmethod
    def from_df(cls, df: DataFrame, **kw) -> "DataTable":
        return cls(df, **kw)

    @classmethod
    def from_records(
        cls,
        spark: SparkSession,
        records: Sequence[dict],
        keys: Sequence[str] | None = None,
        config: EngineConfig = DEFAULT_CONFIG,
    ) -> "DataTable":
        """alists/plists → table. Keys come from the FIRST record; stray keys
        in later records are dropped (alists-to-data-table,
        data-table.lisp:504-521; asserted tests/data-table.lisp:129,143-147).
        """
        records = list(records)
        if keys is None:
            keys = list(records[0].keys()) if records else []
        # Values are fetched with the keys AS GIVEN; dedupe_names only
        # renames the output columns. Deduping first and fetching with
        # the renamed key (`name` → `name_1`, which no record contains)
        # silently emptied every case-colliding column — and an all-NULL
        # column makes createDataFrame's inference throw.
        fetch_keys = [str(k) for k in keys]
        keys = dedupe_names(fetch_keys, config.on_duplicate_column)
        # driver-side rows carry their ingest index, so the row id is
        # stamped at creation — no distributed zipWithIndex lineage (whose
        # window+join plan dominates small-facade query compile time)
        rows = [
            tuple([i] + [r.get(k) for k in fetch_keys])
            for i, r in enumerate(records)
        ]
        if rows:
            # same untyped-cell demotion as from_rows: when inference
            # cannot determine a column's type (e.g. all-NULL), the
            # table falls back to strings, recoverable via coerce_types()
            try:
                df = spark.createDataFrame(rows, schema=[ROW_ID, *keys])
            except Exception:
                str_rows = [
                    tuple(
                        [r[0]]
                        + [None if v is None else str(v) for v in r[1:]]
                    )
                    for r in rows
                ]
                str_schema = T.StructType(
                    [T.StructField(ROW_ID, T.LongType())]
                    + [T.StructField(k, T.StringType()) for k in keys]
                )
                rows, df = str_rows, spark.createDataFrame(str_rows, str_schema)
            # the list-path frame above only resolves the schema (type
            # inference, untyped-cell demotion); the rows ride a
            # right-sized literal built from it
            df = local_df(spark, rows, df.schema)
        else:
            schema = T.StructType(
                [T.StructField(ROW_ID, T.LongType())]
                + [T.StructField(k, T.StringType()) for k in keys]
            )
            df = spark.createDataFrame([], schema)
        return cls(df, config=config, _has_row_id=True, _n_rows=len(rows))

    @classmethod
    def from_rows(
        cls,
        spark: SparkSession,
        rows: Sequence[Sequence[Any]],
        column_names: Sequence[str] | None = None,
        config: EngineConfig = DEFAULT_CONFIG,
    ) -> "DataTable":
        """Ragged rows are squared: short rows padded with NULL, names padded
        with generated ones (fill-in-missing-cells, data-table.lisp:240-264).
        """
        rows = [list(r) for r in rows]
        width = max([len(r) for r in rows] + [len(column_names or [])] or [0])
        names = list(column_names or [])
        while len(names) < width:
            names.append(f"col_{len(names)}")
        names = dedupe_names([str(n) for n in names], config.on_duplicate_column)
        # ingest index stamped driver-side (see from_records)
        padded = [
            tuple([i] + list(r) + [None] * (width - len(r)))
            for i, r in enumerate(rows)
        ]
        names = [ROW_ID, *names]
        # Cells keep their Python types when the column is homogeneous
        # (the reference's rows hold values as-is); when inference cannot
        # determine or merge a column's type (mixed cells, all-NULL
        # column), the whole table demotes to strings — the deterministic
        # Spark rendering of the reference's untyped-cell model, with
        # types recoverable via coerce_types().
        str_schema = T.StructType(
            [T.StructField(ROW_ID, T.LongType())]
            + [T.StructField(n, T.StringType()) for n in names[1:]]
        )
        if not padded:
            return cls(
                spark.createDataFrame([], str_schema),
                config=config,
                _has_row_id=True,
                _n_rows=0,
            )
        try:
            df = spark.createDataFrame(padded, schema=list(names))
        except Exception:
            padded = [
                tuple(
                    [r[0]] + [None if v is None else str(v) for v in r[1:]]
                )
                for r in padded
            ]
            df = spark.createDataFrame(padded, str_schema)
        df = local_df(spark, padded, df.schema)
        return cls(df, config=config, _has_row_id=True, _n_rows=len(padded))

    @classmethod
    def from_csv(
        cls,
        spark: SparkSession,
        path: str,
        header: bool = True,
        config: EngineConfig = DEFAULT_CONFIG,
        **options,
    ) -> "DataTable":
        """CSV → typed DataTable via the reference inference pipeline
        (sources/csv.read_csv_inferred)."""
        from .sources.csv import read_csv_inferred

        return cls(
            read_csv_inferred(spark, path, header=header, config=config, **options),
            config=config,
        )

    # ---------- sinks ----------

    def write_parquet(self, path: str, mode: str = "overwrite") -> None:
        """Persist user-visible columns as parquet (row order is an
        ingest-time notion; at rest the table is relational)."""
        self.df.write.mode(mode).parquet(path)

    def save_table(self, name: str, mode: str = "overwrite") -> None:
        """Persist to the session catalog (replaces the CLSQL import path
        for Spark-native storage; JDBC path in plans/ddl.py)."""
        self.df.write.mode(mode).saveAsTable(name)

    # ---------- schema access (R2-R4, R21) ----------

    @property
    def df(self) -> DataFrame:
        """User-visible DataFrame (row-id hidden)."""
        return self._df.drop(ROW_ID)

    @property
    def ordered_df(self) -> DataFrame:
        """Internal DataFrame including ``_row_id``."""
        return self._df

    @property
    def column_names(self) -> list[str]:
        return [c for c in self._df.columns if c != ROW_ID]

    @property
    def column_types(self) -> list[T.DataType]:
        return [f.dataType for f in self._df.schema.fields if f.name != ROW_ID]

    @property
    def number_of_columns(self) -> int:
        return len(self.column_names)

    @property
    def number_of_rows(self) -> int:
        if self._n_rows is not None:
            return self._n_rows
        return self._df.count()

    def column_index(self, ref: int | str) -> int:
        """column-index resolution (data-table.lisp:409-414)."""
        return resolve_column(self.column_names, ref)

    def column_type(self, ref: int | str) -> T.DataType:
        return self.column_types[self.column_index(ref)]

    def column_name(self, idx: int) -> str:
        return self.column_names[resolve_column(self.column_names, idx)]

    def rename_column(self, ref: int | str, new_name: str) -> "DataTable":
        """(setf column-name) (data-table.lisp:426-432)."""
        old = self.column_names[self.column_index(ref)]
        return self._rebind(
            self._df.withColumnRenamed(old, new_name), n_rows=self._n_rows
        )

    # ---------- name canonicalization (R5, R34, R40) ----------

    def symbolize_column_names(self) -> "DataTable":
        """"First Name" → ``first-name`` (data-table.lisp:109-117)."""
        mapping = {c: symbolize_name(c) for c in self.column_names}
        return self._rename_all(mapping)

    def sql_escape_column_names(self, transform=spark_safe_name) -> "DataTable":
        """sql-escaped-column-names (clsql-data-table.lisp:21-47)."""
        mapping = {c: transform(c) for c in self.column_names}
        return self._rename_all(mapping)

    def _rename_all(self, mapping: dict[str, str]) -> "DataTable":
        new_names = dedupe_names(
            [mapping.get(c, c) for c in self.column_names],
            self.config.on_duplicate_column,
        )
        df = self._df
        for old, new in zip(self.column_names, new_names):
            if old != new:
                df = df.withColumnRenamed(old, new)
        return self._rebind(df, n_rows=self._n_rows)

    # ---------- positional access (R6-R8) ----------

    def value(self, row_idx: int | None = None, col: int | str | None = None):
        """Cell / whole row / whole column (data-table-value,
        data-table.lisp:119-129). Column lookup is case-insensitive."""
        if row_idx is not None and col is not None:
            name = self.column_names[self.column_index(col)]
            rows = (
                self._df.where(F.col(ROW_ID) == row_idx)
                .select(sql_name(name))
                .collect()
            )
            return rows[0][0] if rows else None
        if col is not None:
            name = self.column_names[self.column_index(col)]
            return [r[0] for r in self._ordered_rows([name])]
        if row_idx is not None:
            rows = (
                self._df.where(F.col(ROW_ID) == row_idx)
                .select(*[sql_name(n) for n in self.column_names])
                .collect()
            )
            return list(rows[0]) if rows else None
        raise ValueError("need row_idx and/or col")

    def set_value(
        self,
        value,
        row_idx: int | None = None,
        col: int | str | None = None,
    ) -> "DataTable":
        """Set a cell, a whole row, or a whole column; auto-extends the table
        when row_idx is beyond the end ((setf data-table-value) + ensure-rows,
        data-table.lisp:139-170). Returns a new facade (engine is immutable;
        use set_value_bang for in-place rebinding)."""
        if row_idx is not None and col is not None:
            dt = self._ensure_rows(row_idx + 1)
            name = dt.column_names[dt.column_index(col)]
            df = dt._df.withColumn(
                name, dt._cell_set_expr(name, row_idx, value)
            )
            return self._rebind(df, n_rows=dt._n_rows)
        if col is not None:
            # column-set from a value list: the reference iterates exactly
            # len(values) cell-sets (data-table.lisp:166-170), so rows
            # BEYOND the list keep their existing values, and a list longer
            # than the table auto-extends it (each cell-set ensure-rows,
            # data-table.lisp:145-152)
            values = list(value)
            n = len(values)
            dt = self._ensure_rows(n)
            name = dt.column_names[dt.column_index(col)]
            spark = dt._df.sparkSession
            val_rows = [(i, v) for i, v in enumerate(values)]
            vals_df = spark.createDataFrame(
                val_rows, schema=[ROW_ID, "_dt_new"]
            )
            vals_df = local_df(spark, val_rows, vals_df.schema)
            old_c, new_c = F.col(sql_name(name)), F.col("_dt_new")
            if dict(dt._df.dtypes)[name] != dict(vals_df.dtypes)["_dt_new"]:
                # untyped-cell model: mixing value types demotes the column
                # to string rather than corrupting either side with a cast
                old_c, new_c = old_c.cast("string"), new_c.cast("string")
            df = (
                dt._df.join(F.broadcast(vals_df), ROW_ID, "left")
                .withColumn(
                    name,
                    F.when(F.col(ROW_ID) < n, new_c).otherwise(old_c),
                )
                .drop("_dt_new")
            )
            # unique-key left join: row count preserved from dt
            return self._rebind(df, n_rows=dt._n_rows)
        if row_idx is not None:
            dt = self._ensure_rows(row_idx + 1)
            values = list(value)
            df = dt._df
            for name, v in zip(dt.column_names, values):
                df = df.withColumn(name, dt._cell_set_expr(name, row_idx, v, df))
            return self._rebind(df, n_rows=dt._n_rows)
        raise ValueError("need row_idx and/or col")

    def _cell_set_expr(self, name: str, row_idx: int, value, df=None):
        """when/otherwise expression assigning ``value`` at ``row_idx``,
        with the untyped-cell demotion the column-list and overlay paths
        already apply (round-2 advisor: the cell/row paths instead raised
        AnalysisException on e.g. a string into a bigint column).

        Decided at the TYPE level, not by probing execution: under ANSI
        mode Spark happily ANALYZES string-vs-bigint when/otherwise by
        coercing to bigint, then throws CAST_INVALID_INPUT at runtime —
        so same-type and numeric↔numeric (widening) assignments stay
        native, everything else demotes. NULL keeps the column type."""
        df = self._df if df is None else df
        cell = F.col(sql_name(name))
        natural = F.when(F.col(ROW_ID) == row_idx, F.lit(value)).otherwise(cell)
        if value is None:
            return natural
        lit_t = df.select(F.lit(value)).schema[0].dataType  # analysis only
        col_t = df.schema[name].dataType
        if lit_t == col_t or (
            isinstance(lit_t, T.NumericType) and isinstance(col_t, T.NumericType)
        ):
            return natural
        return F.when(
            F.col(ROW_ID) == row_idx, F.lit(value).cast("string")
        ).otherwise(cell.cast("string"))

    def _ensure_rows(self, n: int) -> "DataTable":
        """Append NULL rows until the table has >= n rows (ensure-rows,
        data-table.lisp:145-152)."""
        cur = self.number_of_rows
        if cur >= n:
            return self
        spark = self._df.sparkSession
        pad_schema = T.StructType(
            [T.StructField(ROW_ID, T.LongType(), False)]
        )
        pad_rows = [(i,) for i in range(cur, n)]
        pad = local_df(spark, pad_rows, pad_schema)
        for f in self._df.schema.fields:
            if f.name != ROW_ID:
                pad = pad.withColumn(f.name, F.lit(None).cast(f.dataType))
        return self._rebind(self._df.unionByName(pad), n_rows=n)

    # ---------- slicing / projection (R9-R10) ----------

    def sub_table(
        self,
        lci: int = 0,
        uci: int | None = None,
        lri: int = 0,
        uri: int | None = None,
    ) -> "DataTable":
        """Rectangular slice [lri,uri) × [lci,uci) keeping names/types
        (make-sub-table, data-table.lisp:172-191). Row ids are re-based to 0."""
        names = self.column_names
        uci = len(names) if uci is None else uci
        cols = names[lci:uci]
        df = self._df
        if uri is not None:
            df = df.where((F.col(ROW_ID) >= lri) & (F.col(ROW_ID) < uri))
        elif lri:
            df = df.where(F.col(ROW_ID) >= lri)
        df = df.select(ROW_ID, *cols).withColumn(
            ROW_ID, F.col(ROW_ID) - F.lit(lri)
        )
        # dense-0..n-1 invariant makes the slice count exact when the
        # input count is known
        n_rows = None
        if self._n_rows is not None:
            hi = self._n_rows if uri is None else min(uri, self._n_rows)
            n_rows = max(0, hi - lri)
        return self._rebind(df, n_rows=n_rows)

    def select_columns(self, names: Iterable[int | str]) -> "DataTable":
        """Projection by name list; errors on missing names; reorders
        (select-columns, data-table.lisp:193-208)."""
        resolved = [self.column_names[self.column_index(n)] for n in names]
        return self._rebind(
            self._df.select(ROW_ID, *resolved), n_rows=self._n_rows
        )

    def add_column(
        self,
        name: str,
        default=None,
        dtype: T.DataType | str | None = None,
        index: int | None = None,
    ) -> "DataTable":
        """Insert a column with a default at an index, or append
        (add-column, data-table.lisp:494-502)."""
        col = F.lit(default)
        if dtype is not None:
            col = col.cast(dtype)
        elif default is None:
            col = col.cast("string")
        names = self.column_names
        idx = len(names) if index is None else index
        new_order = names[:idx] + [name] + names[idx:]
        df = self._df.withColumn(name, col).select(ROW_ID, *new_order)
        return self._rebind(df, n_rows=self._n_rows)

    # ---------- composition (R11-R12) ----------

    def compare(self, other: "DataTable") -> bool:
        """Positional whole-table equality: row-count gate + cell-wise
        comparison by _row_id (data-table-data-compare,
        data-table.lisp:210-216). NULL == NULL counts as equal."""
        if self.number_of_columns != other.number_of_columns:
            return False
        a, b = self._df, other._df
        a_cols, b_cols = self.column_names, other.column_names
        # ONE action: full outer join on _row_id — a row missing on either
        # side (row-count mismatch) surfaces as a NULL presence marker, so
        # the separate count() jobs (and their plan compiles) are avoided
        a2 = a.select(
            ROW_ID,
            F.lit(True).alias("_a_present"),
            *[F.col(c).alias(f"_a_{i}") for i, c in enumerate(a_cols)],
        )
        b2 = b.select(
            ROW_ID,
            F.lit(True).alias("_b_present"),
            *[F.col(c).alias(f"_b_{i}") for i, c in enumerate(b_cols)],
        )
        j = a2.join(b2, ROW_ID, "full")
        neq = [
            F.col("_a_present").isNull(),
            F.col("_b_present").isNull(),
        ]
        neq += [
            ~(
                F.col(f"_a_{i}").eqNullSafe(
                    F.col(f"_b_{i}").try_cast(dict(a2.dtypes)[f"_a_{i}"])
                )
            )
            for i in range(len(a_cols))
        ]
        cond = neq[0]
        for e in neq[1:]:
            cond = cond | e
        return j.where(cond).limit(1).count() == 0

    def overlay_region(
        self, new: "DataTable", row_idx: int = 0, col_idx: int = 0
    ) -> "DataTable":
        """Paste ``new`` into this table at (row_idx, col_idx), auto-growing
        columns (as string, NULL-filled) and rows (NULL-filled)
        (overlay-region, data-table.lisp:218-238; growth at 221-233).

        Implementation: left join on shifted _row_id carrying a window
        marker + per-column CASE gated on the WINDOW, not on value
        nullness — the reference assigns every overlay cell
        unconditionally (data-table.lisp:234-238), so an explicit NULL in
        the overlay block overwrites the old cell. A type mismatch between
        overlay and base column demotes the column to string (the
        reference's untyped-cell model) instead of try_cast-ing overlay
        values into the base type (which silently kept the old cell when
        the cast failed — round-2 advisor finding).
        """
        base = self
        need_cols = col_idx + new.number_of_columns
        while base.number_of_columns < need_cols:
            base = base.add_column(
                f"col_{base.number_of_columns}", None, T.StringType()
            )
        need_rows = row_idx + new.number_of_rows
        base = base._ensure_rows(need_rows)

        base_names = base.column_names
        target_names = base_names[col_idx : col_idx + new.number_of_columns]
        shifted = new._df.select(
            (F.col(ROW_ID) + F.lit(row_idx)).alias(ROW_ID),
            F.lit(True).alias("_ov_in"),
            *[
                F.col(c).alias(f"_ov_{i}")
                for i, c in enumerate(new.column_names)
            ],
        )
        j = base._df.join(F.broadcast(shifted), ROW_ID, "left")
        in_window = F.col("_ov_in").eqNullSafe(F.lit(True))
        base_types = dict(base._df.dtypes)
        new_types = dict(new._df.dtypes)
        out_cols = [F.col(ROW_ID)]
        for name in base_names:
            if name in target_names:
                i = target_names.index(name)
                old_c, new_c = F.col(name), F.col(f"_ov_{i}")
                if base_types[name] != new_types[new.column_names[i]]:
                    old_c = old_c.cast("string")
                    new_c = new_c.cast("string")
                out_cols.append(
                    F.when(in_window, new_c).otherwise(old_c).alias(name)
                )
            else:
                out_cols.append(F.col(name))
        # unique-key broadcast left join over the grown base: row count
        # is the grown base's count
        return self._rebind(j.select(*out_cols), n_rows=base._n_rows)

    # ---------- typing (R14-R20) ----------

    def guess_types(self, infer_dates: bool = True) -> dict[str, T.DataType]:
        return guess_types(
            self.df, sample_size=self.config.guessing_sample_size,
            infer_dates=infer_dates,
        )

    def coerce_types(
        self,
        explicit: dict[str, T.DataType] | None = None,
        on_error: str | None = None,
        infer_dates: bool = True,
    ) -> "DataTable":
        """Infer + strictly coerce (coerce-data-table-of-strings-to-types,
        data-table.lisp:387-407).

        Round-14 fast path (guide §1.2: fewer jobs): when the row count
        is statically known to fit the guess sample (so the head sample
        IS the whole table) and no explicit types override the guess,
        the strict-coercion audit's answer is computed inside the guess
        agg itself (inference.guess_types_with_audit) — one job instead
        of two, byte-identical outcome by construction. Larger or
        unknown tables keep the two-job guess-then-audit path."""
        on_error = on_error or self.config.on_coerce_error
        sample_size = self.config.guessing_sample_size
        if (
            self._n_rows is not None
            and self._n_rows <= sample_size
            and not explicit
        ):
            types, audit = guess_types_with_audit(
                self._df.drop(ROW_ID),
                sample_size=sample_size,
                infer_dates=infer_dates,
            )
            df = coerce_table(
                self._df, types, on_error=on_error, _audit_counts=audit
            )
        else:
            types = ensure_column_types(
                self._df.drop(ROW_ID), explicit,
                sample_size, infer_dates,
            )
            df = coerce_table(self._df, types, on_error=on_error)
        return self._rebind(df, n_rows=self._n_rows)

    # ---------- output (R22-R23, R26) ----------

    def format_for_output(self) -> "DataTable":
        """null→"", real→%.2f, array→", "-joined (data-table.lisp:437-469).

        Round-14 optimization (guide §2.4, remove shuffles outright):
        formatting is per-cell, so the row id rides THROUGH the format
        projection unchanged instead of being dropped and re-derived.
        The old form paid a global orderBy(_row_id) sort plus the full
        with_row_id re-stamp plan (two windows + a groupBy + a broadcast
        join) to renumber an id that is ALREADY dense 0..n-1 in that
        exact order (the facade invariant: every constructor stamps
        0..n-1 and sub_table re-bases) — the renumber was the identity.
        Same rows, same ids, zero exchanges."""
        formatted = self._df.select(
            F.col(ROW_ID),
            *[
                format_value(
                    F.col(sql_name(f.name)), f.dataType,
                    self.config.list_delimiter,
                ).alias(f.name)
                for f in self._df.schema.fields
                if f.name != ROW_ID
            ],
        )
        return DataTable(
            formatted, config=self.config, _has_row_id=True,
            _n_rows=self._n_rows,
        )

    def render(self, output_type: str = "string") -> str:
        """Render the whole table in a named format — the engine's version
        of the reference's ``coerce-value-for-output`` output-type dispatch
        hook ("intended to be extended … to allow mutating to html / csv",
        data-table.lisp:441-443). Formats: 'string' (TSV-ish), 'csv',
        'html'. Driver-side; for report-scale results only (the reference
        renders whole tables in memory too)."""
        formatted = self.format_for_output()
        names = formatted.column_names
        rows = formatted.rows()
        if output_type == "csv":
            import csv as _csv
            import io

            buf = io.StringIO()
            w = _csv.writer(buf)
            w.writerow(names)
            w.writerows(rows)
            return buf.getvalue()
        if output_type == "html":
            head = "".join(f"<th>{n}</th>" for n in names)
            body = "".join(
                "<tr>" + "".join(f"<td>{v}</td>" for v in r) + "</tr>"
                for r in rows
            )
            return (
                f"<table><thead><tr>{head}</tr></thead>"
                f"<tbody>{body}</tbody></table>"
            )
        if output_type == "string":
            lines = ["\t".join(names)]
            lines += ["\t".join(r) for r in rows]
            return "\n".join(lines)
        raise ValueError(f"unknown output_type {output_type!r}")

    def to_records(self) -> list[dict]:
        """table → list of dicts in row order (data-table-to-alists,
        data-table.lisp:523-537). Driver-side; small results only."""
        names = self.column_names
        return [dict(zip(names, r)) for r in self._ordered_rows(names)]

    def rows(self) -> list[list]:
        return [list(r) for r in self._ordered_rows(self.column_names)]

    def to_arrow(self):
        """table → pyarrow.Table in row order (Spark 4 ``df.toArrow``) —
        the zero-copy interchange surface toward pandas/polars/duckdb,
        the columnar sibling of to_records. Driver-side; small results
        only (same contract as to_records)."""
        table = self._select_with_row_id(self.column_names).toArrow()
        return table.sort_by(ROW_ID).drop_columns([ROW_ID])

    @classmethod
    def from_arrow(
        cls,
        spark: SparkSession,
        table,
        config: EngineConfig = DEFAULT_CONFIG,
    ) -> "DataTable":
        """pyarrow.Table → DataTable, preserving row order (inverse of
        to_arrow; Arrow-native ``createDataFrame`` path, no Python-row
        materialization). Column names are deduped with the same
        duplicate policy every other ingest uses."""
        names = dedupe_names(
            [str(n) for n in table.column_names], config.on_duplicate_column
        )
        df = spark.createDataFrame(table.rename_columns(names))
        # stamp ingest order via a monotonic id over the ARRIVAL order:
        # Arrow tables are single-node in-memory, so the coalesce(1) is
        # free and keeps ids dense and deterministic
        df = df.coalesce(1).withColumn(ROW_ID, F.monotonically_increasing_id())
        return cls(df, config=config, _has_row_id=True)

    # ---------- mutating (!) variants ----------
    # The reference splits copy-vs-mutate APIs (symbolize-column-names!,
    # sql-escape-column-names!, …, data-table.lisp:114-117 etc.). The
    # engine stays immutable; the _bang forms rebind THIS facade in place.

    def _mutate(self, other: "DataTable") -> "DataTable":
        self._df = other._df
        return self

    def set_value_bang(self, value, row_idx=None, col=None) -> "DataTable":
        return self._mutate(self.set_value(value, row_idx=row_idx, col=col))

    def symbolize_column_names_bang(self) -> "DataTable":
        return self._mutate(self.symbolize_column_names())

    def sql_escape_column_names_bang(self, transform=spark_safe_name) -> "DataTable":
        return self._mutate(self.sql_escape_column_names(transform))

    def coerce_types_bang(self, explicit=None, on_error=None,
                          infer_dates: bool = True) -> "DataTable":
        return self._mutate(
            self.coerce_types(explicit, on_error, infer_dates)
        )

    def overlay_region_bang(self, new: "DataTable", row_idx: int = 0,
                            col_idx: int = 0) -> "DataTable":
        return self._mutate(self.overlay_region(new, row_idx, col_idx))

    # ---------- plumbing ----------

    def _rebind(self, df: DataFrame, n_rows: int | None = None) -> "DataTable":
        return DataTable(
            df, config=self.config, _has_row_id=True, _n_rows=n_rows
        )

    def _select_with_row_id(self, names: Sequence[str]) -> DataFrame:
        return self._df.selectExpr(ROW_ID, *[sql_name(n) for n in names])

    def _ordered_rows(self, names: Sequence[str]) -> list[tuple]:
        """The ``names`` cells of every row, in row order, for reads that
        end on the driver anyway. The rows are sorted by row id there, so
        no global sort is planned: over a literal table Catalyst folds the
        read into the literal and runs no job at all."""
        rows = self._select_with_row_id(names).collect()
        rows.sort(key=itemgetter(0))
        return [r[1:] for r in rows]

    def cache(self) -> "DataTable":
        self._df = self._df.cache()
        return self

    def __repr__(self) -> str:
        return f"DataTable({self.number_of_columns} cols: {self.column_names})"
