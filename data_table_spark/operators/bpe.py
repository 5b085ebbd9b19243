"""Distributed BPE tokenizer training — the missing piece between the
corpus-pipeline operators (chunking, packing, mixing) and an actual
training run: learn the merge table ON the cluster, from the same
DataFrame the pipeline already produces.

Algorithm is the classic word-frequency BPE (Sennrich et al. 2016,
public spec): collapse the corpus to a (word, freq) table FIRST —
vocabulary-sized, orders of magnitude below corpus size, and the
reason this trains fast at 100 TB (the iteration cost is bounded by
distinct-word count, not token count) — then repeat:

1. count adjacent symbol pairs weighted by word freq (one map-side-
   combinable aggregate over the word table),
2. take the single most frequent pair (deterministic (n desc, left,
   right) tie-break; a 1-row ``collect`` — bounded driver state by
   contract),
3. rewrite every word's symbol array, merging non-overlapping
   occurrences left-to-right — a pure JVM ``aggregate`` fold over the
   symbol array (no Python in the loop), lineage cut per round with
   ``truncate_lineage`` on the vocabulary-sized word table (the
   _oriented_graph rationale: persist() would leak across gates).

The fold reproduces single-pass left-to-right replacement exactly:
the merged token ``left||right`` can never equal ``left`` (right is
non-empty), so a freshly merged token never re-merges in the same
round — hash-proven against a pure-Python reference implementation in
tests/test_pipeline.py (golden) for the full merge table.

Driver gates: ``pipe_bpe_pair_counts`` (round-0 pair statistics,
exact DuckDB oracle) and ``pipe_bpe_merges`` (8 training rounds;
iterative argmax is not SQL-expressible, so the driver records the
rows-only check while the pytest golden pins every value — the
udf_ewma_state precedent for sequential semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text import tokens
from ..lineage import truncate_lineage
from ..sources.registry import load_table, local_df

BPE_QUERIES: dict = {}
BPE_ORACLE: dict = {}


def word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Collapse a document corpus to its (word, freq) table — the BPE
    working set. Lowercased, whitespace-tokenized (the textstats
    convention); one explode + one count aggregate."""
    return (
        docs.select(
            F.explode(tokens(text_col)).alias("word")
        )
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _with_symbols(words: DataFrame) -> DataFrame:
    return words.withColumn("symbols", F.split("word", ""))


def pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent symbol-pair counts weighted by word frequency: one
    transform+explode over the symbol arrays, one hash aggregate.
    ``words`` must carry (word, freq, symbols)."""
    # guard 1-symbol words: sequence(1, 0) generates a DESCENDING
    # [1, 0] in Spark, not an empty array, and index 0 then faults
    # under ANSI element_at
    pairs = words.where(F.size("symbols") > 1).select(
        "freq",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("symbols") - 1),
                lambda i: F.struct(
                    F.element_at("symbols", i).alias("left"),
                    F.element_at("symbols", i + 1).alias("right"),
                ),
            )
        ).alias("p"),
    )
    return pairs.groupBy(
        F.col("p.left").alias("left"), F.col("p.right").alias("right")
    ).agg(F.sum("freq").cast("long").alias("n"))


def _apply_merge(words: DataFrame, left: str, right: str) -> DataFrame:
    """Rewrite symbol arrays merging (left, right) -> left||right,
    non-overlapping left-to-right — a JVM aggregate fold, no UDF."""
    lf, rf = F.lit(left), F.lit(right)
    return words.withColumn(
        "symbols",
        F.aggregate(
            "symbols",
            F.expr("CAST(array() AS array<string>)"),
            lambda acc, x: F.when(
                (F.try_element_at(acc, F.lit(-1)) == lf) & (x == rf),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.concat(lf, x)),
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        ),
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_count: int = 2,
) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` BPE merges from a document corpus. Returns
    [(rank, left, right, pair_count_at_merge_time), ...] — the merge
    table, in learned order. Stops early when no pair reaches
    ``min_count``. The per-round driver state is ONE row (the argmax
    pair); the distributed state is the vocabulary-sized word table,
    checkpoint-materialized each round so the fold lineage stays
    flat.

    Round-13 optimization: the checkpoints are LAZY (eager=False) —
    each round's argmax action materializes the merge fold and takes
    the top pair in ONE job, instead of a dedicated materialization
    job per round followed by the argmax job. Same lineage flatness
    (blocks exist after the first action), half the per-round job
    count; the training loop is job-overhead-bound because the word
    table is vocabulary-sized."""
    words = truncate_lineage(
        _with_symbols(word_freqs(docs, text_col)), eager=False
    )
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        best = (
            pair_counts(words)
            .orderBy(F.col("n").desc(), "left", "right")
            .limit(1)
            .collect()
        )
        if not best or best[0]["n"] < min_count:
            break
        left, right, n = best[0]["left"], best[0]["right"], best[0]["n"]
        merges.append((rank, left, right, int(n)))
        words = truncate_lineage(
            _apply_merge(words, left, right), eager=False
        )
    return merges


def bpe_encode(docs: DataFrame, merges: list, text_col: str = "text") -> DataFrame:
    """Apply a learned merge table to a corpus: per document, the
    whitespace words are split to characters and every merge is folded
    in rank order. For the bounded merge lists this repo trains (k ≲
    64) the folds stay one JVM expression chain; a production encoder
    with a 50k-merge vocabulary would switch to the priority-queue
    algorithm inside ``applyInPandas`` (the udf-family escape hatch) —
    the expression chain's depth is the documented limit here."""
    out = docs.select(
        "doc_id",
        F.explode(tokens(text_col)).alias("word"),
    ).where(F.col("word") != "").withColumn(
        "symbols", F.split("word", "")
    )
    for _, left, right, _n in merges:
        out = _apply_merge(out, left, right)
    return out.select("doc_id", "word", "symbols")


# --------------------------------------------------------------------------
# driver gates
# --------------------------------------------------------------------------

def pipe_bpe_pair_counts(spark, sf_dir):
    """Gate: round-0 BPE pair statistics — top-20 adjacent character
    pairs by corpus-weighted frequency, (n desc, left, right)."""
    words = _with_symbols(
        word_freqs(load_table(spark, "documents", sf_dir))
    )
    return (
        pair_counts(words)
        .orderBy(F.col("n").desc(), "left", "right")
        .limit(20)
    )


BPE_QUERIES["pipe_bpe_pair_counts"] = pipe_bpe_pair_counts
BPE_ORACLE["pipe_bpe_pair_counts"] = (
    "WITH words AS ("
    "  SELECT word, COUNT(*) AS freq FROM ("
    "    SELECT UNNEST(string_split_regex(LOWER(TRIM(text)), '\\s+')) "
    "      AS word FROM documents) "
    "  WHERE word <> '' GROUP BY 1), "
    "idx AS ("
    "  SELECT word, freq, UNNEST(RANGE(1, LENGTH(word))) AS i "
    "  FROM words), "
    "pairs AS ("
    "  SELECT SUBSTR(word, CAST(i AS INT), 1) AS left_sym, "
    "    SUBSTR(word, CAST(i AS INT) + 1, 1) AS right_sym, freq "
    "  FROM idx) "
    "SELECT left_sym AS \"left\", right_sym AS \"right\", "
    "  CAST(SUM(freq) AS BIGINT) AS n "
    "FROM pairs GROUP BY 1, 2 "
    "ORDER BY n DESC, left_sym, right_sym LIMIT 20"
)


def pipe_bpe_merges(spark, sf_dir):
    """Gate: 8 BPE training rounds over documents — the learned merge
    table. Iterative global argmax is not single-statement-SQL-
    expressible, so this gate is rows-only at the driver; the pytest
    golden (tests/test_pipeline.py) pins every value against a pure-
    Python reference BPE with the identical tie-break."""
    merges = bpe_train(
        load_table(spark, "documents", sf_dir), n_merges=8
    )
    return local_df(
        spark, merges, "rank int, left string, right string, n_occurrences long"
    )


BPE_QUERIES["pipe_bpe_merges"] = pipe_bpe_merges
