"""Additional source/sink formats beyond CSV/parquet/JDBC: JSON lines
and ORC.

The reference's IO surface is CSV-ish strings plus a SQL round-trip; a
Spark-native engine gets the columnar formats for free and SHOULD use
them — ORC ships in vanilla Spark (no extra jars), JSON lines is the
interchange format every event pipeline emits. Both readers can route
through the engine's reference-semantics inference (read all-string →
lenient parse lattice) or Spark's native schema handling.

Scale posture: both readers are ordinary FileSourceScanExec scans —
partition pruning, predicate pushdown (ORC), and column pruning all
apply. JSON gets schema enforcement rather than a second inference scan
when a schema is supplied.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..inference import auto_type

#: Spark's JSON default timestamp format keeps milliseconds only; the
#: engine round-trips microseconds (parquet precision) by default.
#: TIMESTAMP and TIMESTAMP_NTZ columns are configured by DIFFERENT
#: option names (timestampFormat vs timestampNTZFormat) — setting only
#: the first silently ms-truncates NTZ columns (events.ts is TIMESTAMP
#: once load_table normalizes it, but a caller's frame may carry NTZ).
TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
TS_NTZ_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"


def read_json_lines(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    infer_reference_types: bool = False,
    **options,
) -> DataFrame:
    """Read newline-delimited JSON.

    - schema given: enforced single-pass read (the 100 TB path — Spark's
      sampling inference pass over a schemaless lake is a full extra scan).
    - infer_reference_types: read every leaf as string, then run the
      engine's lenient inference lattice (the reference's ingest
      semantics, §1.3) — for JSON that arrived stringly-typed.
    - neither: Spark's native JSON inference (sampling scan).
    """
    options.setdefault("timestampFormat", TS_FORMAT)
    options.setdefault("timestampNTZFormat", TS_NTZ_FORMAT)
    reader = spark.read.options(**{k: str(v) for k, v in options.items()})
    if schema is not None:
        return reader.schema(schema).json(path)
    if infer_reference_types:
        df = reader.json(path)
        str_df = df.select(
            *[F.col(c).cast("string").alias(c) for c in df.columns]
        )
        return auto_type(str_df)
    return reader.json(path)


def write_json_lines(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    (
        df.write.mode(mode)
        .option("timestampFormat", TS_FORMAT)
        .option("timestampNTZFormat", TS_NTZ_FORMAT)
        .json(path)
    )


def read_orc(spark: SparkSession, path: str, **options) -> DataFrame:
    """ORC scan — same pushdown/pruning machinery as parquet."""
    return spark.read.options(
        **{k: str(v) for k, v in options.items()}
    ).orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_cols: list[str] | None = None,
) -> None:
    w = df.write.mode(mode)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.orc(path)


def read_text_lines(spark: SparkSession, path: str, whole_file: bool = False) -> DataFrame:
    """Plain-text source: one row per line (``value`` string column), or
    one row per FILE with wholetext — the raw-corpus ingest shape (every
    crawl dump starts as text files). Plain FileSourceScanExec: partition
    pruning and parallel splits apply; a 100 TB text lake reads with the
    same scan machinery as parquet, just without column pruning."""
    return spark.read.option("wholetext", str(whole_file).lower()).text(path)


def write_text_lines(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Text sink: single string column per row.

    CONTRACT: one LINE per row. A value containing '\\n' is written as
    multiple physical lines and read_text_lines will return it as
    multiple rows — the round-trip is lossy for embedded newlines by the
    nature of the format (same as every line-oriented sink). Callers
    with multi-line documents should escape first (e.g.
    ``F.regexp_replace(c, '\\n', '\\\\n')``) or use the JSON-lines /
    parquet sinks, which are newline-safe. Rejecting multi-column
    frames here (Spark would too, deeper in the writer) keeps the error
    at the API boundary."""
    if len(df.columns) != 1:
        raise ValueError(
            f"text sink needs exactly one string column, got {df.columns}"
        )
    df.write.mode(mode).text(path)


def parse_fixed_width(line_col, spec):
    """Parse a fixed-width record (the mainframe/COBOL copybook layout
    the reference's CSV-centric ingest never covered) from a string
    column into typed columns — pure substring/trim/try_cast
    expressions, whole-stage-codegen friendly, no Python.

    ``spec`` is ``[(name, width, spark_type_ddl), ...]``; fields are
    taken left to right, padding stripped, empty → NULL (the
    trim-and-nullify convention from functions/cleaning.py), and cast
    with try_cast so a malformed cell NULLs instead of failing the job
    (ANSI mode is ON in Spark 4 — a plain cast would throw)."""
    from pyspark.sql import functions as F

    cols, start = [], 1
    for name, width, ddl in spec:
        raw = F.trim(F.substring(line_col, start, width))
        val = F.when(raw == "", None).otherwise(raw)
        if ddl not in (None, "string"):
            val = val.try_cast(ddl)
        cols.append(val.alias(name))
        start += width
    return cols


def read_fixed_width(
    spark: SparkSession, path: str, spec
) -> DataFrame:
    """Fixed-width file source: one text scan (splittable, predicate
    pushdown N/A by format), then :func:`parse_fixed_width` — column
    pruning still applies downstream because parsing is per-column
    expressions, and at 100 TB the scan parallelizes by file split like
    any text source."""
    from pyspark.sql import functions as F

    lines = spark.read.text(path).select(F.col("value").alias("_fw_line"))
    return lines.select(*parse_fixed_width(F.col("_fw_line"), spec))


def write_fixed_width(df: DataFrame, path: str, spec, mode="overwrite"):
    """Inverse of :func:`read_fixed_width`: right-pad strings / left-pad
    numerics into the spec's widths and write one line per record."""
    from pyspark.sql import functions as F

    parts = []
    for name, width, ddl in spec:
        c = F.coalesce(F.col(name).cast("string"), F.lit(""))
        pad = (
            F.rpad(c, width, " ")
            if ddl in (None, "string")
            else F.lpad(c, width, " ")
        )
        # lpad/rpad silently TRUNCATE over-long input — in a codec whose
        # contract is round-trip identity that is data corruption, so an
        # over-wide value fails the write instead
        guarded = F.when(
            F.length(c) > width,
            F.raise_error(
                F.concat(
                    F.lit(f"fixed-width field '{name}' overflows "
                          f"width {width}: "),
                    c,
                )
            ),
        ).otherwise(pad)
        parts.append(guarded)
    df.select(F.concat(*parts).alias("value")).write.mode(mode).text(path)
