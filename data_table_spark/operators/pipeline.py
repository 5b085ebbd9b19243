"""Training-corpus pipeline operators: deterministic splits, stratified
sampling, source mixing, document chunking, and train/eval contamination.

These are the corpus-management steps that sit between raw documents and
a training run. The common primitive is a **deterministic, engine-portable
hash bucket** (md5 → first 8 hex chars → integer): the same row lands in
the same split/sample on every run, on any cluster size, with no RNG
state — which is what makes 100 TB corpus builds reproducible and lets
DuckDB compute an exact oracle for every operator here.

Everything is a pure Column expression (md5 / conv / slice / sequence /
explode) — JVM-side, codegen-friendly, no Python on the hot path. The
shuffle story per operator is in its docstring.

The reference has no corpus tooling (it is a ~776-LoC tabular facade,
data-table.lisp:94-537); these extend the engine per the north-star
brief, in the same spirit as operators/dedup.py and textstats.py.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import ngrams, normalize_ws, tokens
from ..sources.registry import load_table

#: bucket space for hash-based splitting/sampling. 1e6 buckets give
#: fraction resolution of 1e-6 — fine enough for "hold out 0.01 %".
HASH_BUCKETS = 1_000_000


def hash_bucket(key: Column, buckets: int = HASH_BUCKETS) -> Column:
    """Deterministic uniform bucket in [0, buckets) from any key column.

    md5(utf8(key)) → first 8 hex chars → int — identical in Spark
    (``conv(substr(md5(k),1,8),16,10)``) and DuckDB
    (``('0x'||substr(md5(k),1,8))::BIGINT``), unlike the engines' native
    ``hash()``/``xxhash64`` which differ by seed and algorithm. 32 bits
    of md5 are uniform; cost is one digest per row, map-side only.
    """
    hex8 = F.substring(F.md5(key.cast("string")), 1, 8)
    return F.conv(hex8, 16, 10).cast("bigint") % buckets


def n_tokens(text: Column) -> Column:
    """Non-empty whitespace token count (long) — every pipe_* token
    count shares it; the paired DuckDB rendering is
    ``len(list_filter(string_split_regex(lower(trim(t)), '\\s+'),
    x -> x <> ''))``."""
    return F.size(tokens(text, drop_empty=True)).cast("long")


def _bucket_sql(key_sql: str, buckets: int = HASH_BUCKETS) -> str:
    """DuckDB rendering of :func:`hash_bucket` for the oracles."""
    return (
        f"(('0x' || substr(md5(CAST({key_sql} AS VARCHAR)), 1, 8))::BIGINT"
        f" % {buckets})"
    )


# --------------------------------------------------------------------------
# train/val/test split
# --------------------------------------------------------------------------

#: default corpus split. Keys on the document id, so re-running the
#: pipeline after appending new documents never reassigns an old one.
DEFAULT_SPLIT = (("train", 0.8), ("val", 0.1), ("test", 0.1))


def split_assign(
    df: DataFrame,
    key_col: str,
    fractions=DEFAULT_SPLIT,
    bucket_col: str | None = None,
) -> DataFrame:
    """Assign each row a split label by hash bucket of ``key_col``.

    Map-side only — zero shuffle, and the assignment is a pure function
    of the key: stable under reruns, repartitioning, and corpus growth
    (properties a random ``df.randomSplit`` does not have). Fractions
    are cumulative thresholds over the bucket space; they must sum to
    ≤ 1 (the remainder, if any, falls into the last named split).
    """
    b = hash_bucket(F.col(key_col))
    if bucket_col:
        df = df.withColumn(bucket_col, b)
        b = F.col(bucket_col)
    expr = None
    acc = 0.0
    for name, frac in fractions[:-1]:
        acc += frac
        cond = b < int(acc * HASH_BUCKETS)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = fractions[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn("split", expr)


def pipe_split_assign(spark, sf_dir):
    """Gate: 80/10/10 split of documents keyed on doc_id."""
    d = load_table(spark, "documents", sf_dir)
    return split_assign(d, "doc_id").select("doc_id", "split")


# --------------------------------------------------------------------------
# stratified sampling
# --------------------------------------------------------------------------

def stratified_sample(
    df: DataFrame, strata_cols: list[str], fraction: float, key_col: str
) -> DataFrame:
    """Deterministic per-stratum sample: keep a row iff the hash bucket of
    (strata ‖ key) falls under ``fraction``. Every stratum is sampled at
    the same rate regardless of its size, and the decision is per-row
    map-side (no shuffle, no per-group state) — unlike
    ``df.sampleBy``, which needs a fraction dict per observed stratum
    value and draws from an RNG stream that depends on partitioning.

    Salting the bucket with the strata keeps a row's fate independent
    across different stratifications of the same corpus.

    Rows with a NULL in any strata/key component are EXCLUDED (advisor
    r2: concat_ws silently skips NULL inputs, which both folded
    NULL-strata rows into a sibling bucket and disagreed with the
    oracle's ``||``, which propagates NULL). Surfacing them is the
    caller's filter; silently bucketing them is wrong either way.
    """
    cols = [*strata_cols, key_col]
    key = F.concat_ws("␟", *[F.col(c) for c in cols])
    not_null = F.lit(True)
    for c in cols:
        not_null = not_null & F.col(c).isNotNull()
    return df.where(not_null & (hash_bucket(key) < int(fraction * HASH_BUCKETS)))


def pipe_stratified_sample(spark, sf_dir):
    """Gate: 30 % per-language sample of documents."""
    d = load_table(spark, "documents", sf_dir)
    return stratified_sample(d, ["lang"], 0.3, "doc_id").select(
        "doc_id", "lang"
    )


# --------------------------------------------------------------------------
# exact-k per-stratum sampling (fixed-size eval sets)
# --------------------------------------------------------------------------

def topk_per_stratum(
    df: DataFrame, strata_cols: list[str], k: int, key_col: str
) -> DataFrame:
    """Exactly ``min(k, stratum size)`` rows per stratum, chosen
    deterministically: rank rows inside each stratum by (hash bucket of
    (strata ‖ key), key) and keep rank ≤ k. The fixed-size counterpart
    of :func:`stratified_sample` — rate-based sampling cannot build a
    "500 docs per language" eval set; this does, reproducibly, and a
    member stays selected under corpus growth unless a new row hashes
    below it (no RNG, no partitioning sensitivity).

    Shuffle story: ONE shuffle on the strata key for the window. A
    mega-stratum funnels into one partition — for small k at 100 TB,
    pre-filter map-side on the same bucket (keep bucket < c·k·BUCKETS/n̂
    for a population estimate n̂, then window the survivors; the hash
    order makes the pre-filter sound as long as ≥ k rows survive, which
    a count-audit can verify cheaply). NULL strata/key rows are excluded
    for the same reason as stratified_sample.
    """
    from pyspark.sql import Window

    cols = [*strata_cols, key_col]
    salted = F.concat_ws("␟", *[F.col(c) for c in cols])
    not_null = F.lit(True)
    for c in cols:
        not_null = not_null & F.col(c).isNotNull()
    w = Window.partitionBy(*strata_cols).orderBy(
        hash_bucket(salted), F.col(key_col)
    )
    return (
        df.where(not_null)
        .withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .where(F.col("sample_rank") <= k)
    )


#: per-language eval-set size for the gate (small enough that every
#: lang stratum in the sf0.01 fixture exceeds it, so the cut is real)
TOPK_PER_STRATUM_K = 30


def pipe_topk_per_stratum(spark, sf_dir):
    """Gate: a fixed TOPK_PER_STRATUM_K-docs-per-language eval set."""
    d = load_table(spark, "documents", sf_dir)
    return topk_per_stratum(
        d, ["lang"], TOPK_PER_STRATUM_K, "doc_id"
    ).select("doc_id", "lang", "sample_rank")


# --------------------------------------------------------------------------
# quality-weighted sampling
# --------------------------------------------------------------------------

def quality_weighted_sample(
    df: DataFrame, key_col: str, score_col: str
) -> DataFrame:
    """Keep each row with probability equal to its 0-1 ``score_col``,
    deterministically: accept iff hash_bucket(key) < floor(score ·
    HASH_BUCKETS). The corpus-mixing step that keeps high-quality
    documents at full rate and down-samples low-quality ones
    proportionally (FineWeb/DataComp-style quality-weighted retention),
    with the same reproducibility properties as split_assign: map-side
    only, zero shuffle, stable under reruns and corpus growth.

    The floor(score · 1e6) threshold is engine-exact when the score is:
    identical IEEE doubles multiply and floor identically in Spark and
    DuckDB (same contract as the _trunc4 ratios the score is built from).
    """
    thresh = F.floor(F.col(score_col) * HASH_BUCKETS)
    return df.where(
        F.col(key_col).isNotNull() & (hash_bucket(F.col(key_col)) < thresh)
    )


def pipe_quality_sample(spark, sf_dir):
    """Gate: quality-proportional document sample — survival probability
    = the deterministic text_quality score."""
    from .textstats import quality_score

    d = load_table(spark, "documents", sf_dir)
    scored = d.withColumn("quality_score", quality_score(F.col("text")))
    return quality_weighted_sample(scored, "doc_id", "quality_score").select(
        "doc_id", "quality_score"
    )


# --------------------------------------------------------------------------
# source mixing (domain weights)
# --------------------------------------------------------------------------

def source_mix(
    df: DataFrame, group_col: str, keep: dict[str, float], key_col: str
) -> DataFrame:
    """Down-sample each source/domain to its configured keep-rate — the
    standard corpus-mixing step ("keep 10 % of crawl, all of books").
    Groups absent from ``keep`` are dropped. Same zero-shuffle
    hash-bucket mechanics as :func:`stratified_sample`, with a per-group
    threshold instead of a global one.
    """
    thresh = None
    for name, frac in keep.items():
        cond = F.col(group_col) == name
        val = int(frac * HASH_BUCKETS)
        thresh = F.when(cond, val) if thresh is None else thresh.when(cond, val)
    thresh = thresh.otherwise(0)
    key = F.concat_ws("␟", F.col(group_col), F.col(key_col))
    # NULL group/key rows are excluded, matching the oracle's
    # NULL-propagating `||` (see stratified_sample)
    return df.where(
        F.col(group_col).isNotNull()
        & F.col(key_col).isNotNull()
        & (hash_bucket(key) < thresh)
    )


#: gate keep-rates per synthetic source.
MIX_KEEP = {"src0": 1.0, "src1": 0.5, "src2": 0.25}


def pipe_source_mix(spark, sf_dir):
    """Gate: mix documents sources at 100/50/25 % keep-rates."""
    d = load_table(spark, "documents", sf_dir)
    return source_mix(d, "source", MIX_KEEP, "doc_id").select(
        "doc_id", "source"
    )


# --------------------------------------------------------------------------
# document chunking
# --------------------------------------------------------------------------

CHUNK_TOKENS = 32
CHUNK_OVERLAP = 8


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = CHUNK_TOKENS,
    overlap: int = CHUNK_OVERLAP,
) -> DataFrame:
    """Split documents into overlapping fixed-token-count chunks — the
    context-window prep step for training/embedding pipelines.

    Chunk *i* covers tokens [i·stride, i·stride + chunk_tokens) with
    stride = chunk_tokens − overlap; the tail chunk may be short. Pure
    expressions: tokenize once, ``sequence`` of chunk starts,
    ``posexplode`` → ``slice``. Map-side only (the explode multiplies
    rows ~n_tokens/stride ×, but never shuffles); at 100 TB the output
    is written partitioned, not aggregated.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = tokens(text_col, lower=False)
    starts = F.sequence(F.lit(0), F.size(toks) - 1, F.lit(stride))
    exploded = df.select(
        F.col(id_col), toks.alias("_toks"), F.posexplode(starts)
    )
    chunk = F.slice(F.col("_toks"), F.col("col") + 1, chunk_tokens)
    return exploded.select(
        F.col(id_col),
        F.col("pos").cast("long").alias("chunk_id"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )


def pipe_chunk_documents(spark, sf_dir):
    """Gate: 32-token chunks with 8-token overlap over documents."""
    d = load_table(spark, "documents", sf_dir)
    return chunk_documents(d)


# --------------------------------------------------------------------------
# train/eval contamination
# --------------------------------------------------------------------------

def contamination_check(
    train: DataFrame, eval_: DataFrame, id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-eval-document contamination: the fraction of its distinct
    word-bigram shingles that also occur anywhere in the training corpus
    (the standard n-gram-overlap eval-leakage check).

    Shape at scale: explode both sides to (shingle) / (doc, shingle)
    rows, distinct the train side (map-side partial agg first), then one
    equi-join on the shingle string and a per-doc count. The join key
    could be sha2-shortened like dedup_exact if shingles were long; for
    word bigrams the string itself is already short. No O(n²) stage.
    """
    shingles = F.explode(F.array_distinct(ngrams(tokens(text_col), 2)))
    train_sh = (
        train.select(shingles.alias("s"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    eval_sh = eval_.select(F.col(id_col), shingles.alias("s"))
    joined = eval_sh.join(train_sh, "s", "left")
    n_sh = F.count("*")
    n_hit = F.count("hit")
    return (
        joined.groupBy(id_col)
        .agg(
            n_sh.alias("n_shingles"),
            n_hit.alias("n_hit"),
            # floor-truncate, not ROUND: engine-independent on identical
            # IEEE doubles (see textstats.text_quality)
            (F.floor(n_hit.cast("double") / n_sh * 10000) / 10000).alias(
                "contamination"
            ),
        )
    )


def pipe_contamination(spark, sf_dir):
    """Gate: contamination of the doc_id%10==0 eval slice against the
    rest of the corpus as training set."""
    d = load_table(spark, "documents", sf_dir)
    train = d.where(F.col("doc_id") % 10 != 0)
    eval_ = d.where(F.col("doc_id") % 10 == 0)
    return contamination_check(train, eval_)


PIPELINE_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "pipe_split_assign": pipe_split_assign,
    "pipe_stratified_sample": pipe_stratified_sample,
    "pipe_topk_per_stratum": pipe_topk_per_stratum,
    "pipe_quality_sample": pipe_quality_sample,
    "pipe_source_mix": pipe_source_mix,
    "pipe_chunk_documents": pipe_chunk_documents,
    "pipe_contamination": pipe_contamination,
}

from .textstats import QUALITY_SCORE_SUBQUERY as _QUALITY_SCORE_SUBQUERY  # noqa: E402

_SPLIT_B = _bucket_sql("doc_id")
_STRAT_B = _bucket_sql("lang || chr(9247) || CAST(doc_id AS VARCHAR)")
_MIX_B = _bucket_sql("source || chr(9247) || CAST(doc_id AS VARCHAR)")
_MIX_CASE = " ".join(
    f"WHEN source = '{k}' THEN {int(v * HASH_BUCKETS)}"
    for k, v in MIX_KEEP.items()
)
_STRIDE = CHUNK_TOKENS - CHUNK_OVERLAP

PIPELINE_ORACLE: dict[str, str] = {
    "pipe_split_assign":
        "SELECT doc_id, CASE "
        f"WHEN {_SPLIT_B} < {int(0.8 * HASH_BUCKETS)} THEN 'train' "
        f"WHEN {_SPLIT_B} < {int(0.9 * HASH_BUCKETS)} THEN 'val' "
        "ELSE 'test' END AS split FROM documents",
    "pipe_stratified_sample":
        "SELECT doc_id, lang FROM documents "
        f"WHERE {_STRAT_B} < {int(0.3 * HASH_BUCKETS)}",
    "pipe_topk_per_stratum":
        "SELECT doc_id, lang, sample_rank FROM ("
        "  SELECT doc_id, lang, ROW_NUMBER() OVER ("
        f"    PARTITION BY lang ORDER BY {_STRAT_B}, doc_id"
        "  )::BIGINT AS sample_rank FROM documents "
        "  WHERE lang IS NOT NULL AND doc_id IS NOT NULL"
        f") WHERE sample_rank <= {TOPK_PER_STRATUM_K}",
    "pipe_quality_sample":
        "WITH scored AS ({qsub}) "
        "SELECT doc_id, quality_score FROM scored "
        "WHERE {b} < CAST(FLOOR(quality_score * {n}) AS BIGINT)".format(
            qsub=_QUALITY_SCORE_SUBQUERY, b=_SPLIT_B, n=HASH_BUCKETS
        ),
    "pipe_source_mix":
        "SELECT doc_id, source FROM documents "
        f"WHERE {_MIX_B} < (CASE {_MIX_CASE} ELSE 0 END)",
    "pipe_chunk_documents":
        "WITH toks AS ("
        "  SELECT doc_id, string_split_regex(trim(text), '\\s+') t "
        "  FROM documents"
        "), st AS ("
        f"  SELECT doc_id, t, unnest(range(0, len(t), {_STRIDE})) s "
        "  FROM toks"
        ") "
        f"SELECT doc_id, (s // {_STRIDE})::BIGINT AS chunk_id, "
        f"len(list_slice(t, s + 1, s + {CHUNK_TOKENS}))::BIGINT AS n_chunk_tokens, "
        f"array_to_string(list_slice(t, s + 1, s + {CHUNK_TOKENS}), ' ') AS chunk_text "
        "FROM st",
    "pipe_contamination":
        "WITH toks AS ("
        "  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') t "
        "  FROM documents"
        "), sh AS ("
        "  SELECT doc_id, unnest(list_distinct("
        "    [t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))])) s "
        "  FROM toks WHERE len(t) >= 2"
        "), train AS ("
        "  SELECT DISTINCT s FROM sh WHERE doc_id % 10 != 0"
        "), ev AS ("
        "  SELECT * FROM sh WHERE doc_id % 10 = 0"
        ") "
        "SELECT ev.doc_id, COUNT(*)::BIGINT AS n_shingles, "
        "COUNT(train.s)::BIGINT AS n_hit, "
        "FLOOR(COUNT(train.s)::DOUBLE / COUNT(*) * 10000) / 10000 "
        "AS contamination "
        "FROM ev LEFT JOIN train ON ev.s = train.s GROUP BY ev.doc_id",
}


# --------------------------------------------------------------------------
# end-to-end corpus filter (compose: quality × langid × exact dedup)
# --------------------------------------------------------------------------

QUALITY_MIN = 0.5
MIN_TOKENS = 5


def filter_corpus(spark, sf_dir) -> DataFrame:
    """The composed keep-set a training corpus build actually runs:
    English docs (langid), quality ≥ QUALITY_MIN, ≥ MIN_TOKENS tokens,
    AND the canonical survivor of their normalized-exact-dup group.

    Composition is where declarative pays off: the three inputs are
    independent single-shuffle queries over the same scan, and Catalyst
    plans the conjunction as one pipeline with shared pruning — no
    materialized intermediates between 'steps' like an imperative
    pipeline would ship at 100 TB.
    """
    from .textstats import text_langid, text_quality

    q = text_quality(spark, sf_dir).select("doc_id", "quality_score", "n_tokens")
    lang = text_langid(spark, sf_dir).select("doc_id", "pred_lang")
    d = load_table(spark, "documents", sf_dir)
    norm = normalize_ws("text")
    survivors = (
        d.select("doc_id", F.sha2(norm, 256).alias("h"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return (
        q.join(lang, "doc_id")
        .join(survivors, "doc_id", "left_semi")
        .where(
            (F.col("quality_score") >= QUALITY_MIN)
            & (F.col("pred_lang") == "en")
            & (F.col("n_tokens") >= MIN_TOKENS)
        )
        .select("doc_id")
    )


def pipe_filter_corpus(spark, sf_dir):
    """Gate: the composed corpus keep-set."""
    return filter_corpus(spark, sf_dir)


PIPELINE_QUERIES["pipe_filter_corpus"] = pipe_filter_corpus


def _filter_corpus_oracle() -> str:
    from .textstats import _EN, _STOP_PAT

    return (
        "WITH s AS (SELECT doc_id, "
        "  len(string_split_regex(trim(text), '\\s+')) n_tokens, "
        "  length(text) n_chars, "
        "  len(regexp_extract_all(text, '[^\\sA-Za-z0-9]')) n_punct, "
        f"  len(regexp_extract_all(lower(text), '{_STOP_PAT}')) n_stop, "
        f"  len(regexp_extract_all(lower(text), '{_EN}')) en_hits, "
        "  len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) cjk, "
        "  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) norm_h "
        "FROM documents), "
        "scored AS (SELECT doc_id, n_tokens, en_hits, cjk, norm_h, "
        "  CASE WHEN n_tokens < 5 THEN 0.0 ELSE "
        "  FLOOR(((1.0 - LEAST(FLOOR(n_punct::DOUBLE / n_chars * 10000) / 10000 * 4, 1.0)) * 0.5 "
        "  + LEAST(FLOOR(n_stop::DOUBLE / n_tokens * 10000) / 10000 * 5, 1.0) * 0.5) "
        "  * 10000) / 10000 END AS quality_score "
        "FROM s), "
        "surv AS (SELECT MIN(doc_id) doc_id FROM s GROUP BY norm_h) "
        "SELECT sc.doc_id FROM scored sc JOIN surv ON sc.doc_id = surv.doc_id "
        f"WHERE sc.quality_score >= {QUALITY_MIN} AND sc.n_tokens >= {MIN_TOKENS} "
        "AND sc.cjk = 0 AND sc.en_hits > 0 "
        # pred_lang = 'en' in the engine's tie order: en wins any tie it
        # participates in, so 'en' ⇔ en_hits = max(hits) and max > 0;
        # spelled with explicit GREATEST to mirror text_langid
        "AND sc.en_hits = (SELECT GREATEST(len(regexp_extract_all(lower(d2.text), "
        f"'{_EN}')), "
        "len(regexp_extract_all(lower(d2.text), '\\b(der|die|das|und)\\b')), "
        "len(regexp_extract_all(lower(d2.text), '\\b(le|la|les|et)\\b')), "
        "len(regexp_extract_all(lower(d2.text), '\\b(el|los|las|y)\\b'))) "
        "FROM documents d2 WHERE d2.doc_id = sc.doc_id)"
    )


PIPELINE_ORACLE["pipe_filter_corpus"] = _filter_corpus_oracle()


# --------------------------------------------------------------------------
# sequence packing
# --------------------------------------------------------------------------

PACK_BUDGET = 64


def pack_sequences(
    chunks: DataFrame,
    budget: int = PACK_BUDGET,
    id_col: str = "doc_id",
    order_col: str = "chunk_id",
    len_col: str = "n_chunk_tokens",
) -> DataFrame:
    """Assign consecutive chunks to fixed-token-budget packs (the
    sequence-packing step that fills training context windows):
    pack_id = floor(tokens_laid_out_before_this_chunk / budget).

    Packing here is PER DOCUMENT (window partitioned by doc → parallel,
    deterministic, exactly oracle-able). Cross-document packing at scale
    is the same expression with the partition key swapped for a hash
    bucket of bounded size — a global sequential layout would be a
    single-reducer window, which is exactly what not to ship at 100 TB.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(id_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum(len_col).over(w), F.lit(0))
    return chunks.select(
        id_col,
        order_col,
        len_col,
        F.floor(before / budget).cast("long").alias("pack_id"),
    )


def pipe_pack_sequences(spark, sf_dir):
    """Gate: pack the standard document chunks into 64-token budgets."""
    return pack_sequences(chunk_documents(load_table(spark, "documents", sf_dir)))


PIPELINE_QUERIES["pipe_pack_sequences"] = pipe_pack_sequences

#: shared chunk CTEs for the packing oracles.
_CHUNK_CTE = (
    "WITH toks AS ("
    "  SELECT doc_id, string_split_regex(trim(text), '\\s+') t FROM documents"
    "), st AS ("
    f"  SELECT doc_id, t, unnest(range(0, len(t), {_STRIDE})) s FROM toks"
    "), ch AS ("
    f"  SELECT doc_id, (s // {_STRIDE})::BIGINT AS chunk_id, "
    f"  len(list_slice(t, s + 1, s + {CHUNK_TOKENS}))::BIGINT AS n_chunk_tokens "
    "  FROM st"
    ") "
)

PIPELINE_ORACLE["pipe_pack_sequences"] = (
    _CHUNK_CTE
    + "SELECT doc_id, chunk_id, n_chunk_tokens, "
    "CAST(FLOOR(COALESCE(SUM(n_chunk_tokens) OVER ("
    "  PARTITION BY doc_id ORDER BY chunk_id "
    "  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
    f"/ {PACK_BUDGET}) AS BIGINT) AS pack_id "
    "FROM ch"
)


# --------------------------------------------------------------------------
# cross-document (global) sequence packing
# --------------------------------------------------------------------------

#: partition fan-out for global packing. Each hash bucket is packed
#: independently, so parallelism = PACK_GLOBAL_BUCKETS regardless of
#: corpus size; raise it with the cluster (waste is bounded by < 1
#: partially-filled pack per bucket).
PACK_GLOBAL_BUCKETS = 64

#: pack-id stride per bucket — must exceed any single bucket's pack
#: count (tokens_per_bucket / budget). 2^40 packs × a 64-token budget
#: is ~70 trillion tokens per bucket before collision.
_PACK_STRIDE = 1 << 40


def pack_sequences_global(
    chunks: DataFrame,
    budget: int = PACK_BUDGET,
    id_col: str = "doc_id",
    order_col: str = "chunk_id",
    len_col: str = "n_chunk_tokens",
    n_buckets: int = PACK_GLOBAL_BUCKETS,
) -> DataFrame:
    """CROSS-document sequence packing — fills context windows with
    chunks from many documents, the form a real training run uses
    (per-document packing wastes the tail of every short doc).

    A truly global sequential layout would be one unpartitioned window
    = a single reducer at 100 TB — exactly what not to ship. Instead
    documents are hash-bucketed (deterministic md5 bucket, so layout is
    stable under reruns and corpus growth) and each bucket lays out its
    chunks in (doc_id, chunk_id) order independently:
    ``pack_id = bucket · 2⁴⁰ + floor(tokens_before / budget)``.
    Parallelism is n_buckets; packs never span buckets, so the only
    cost vs a global layout is ≤ 1 partially-filled pack per bucket.
    """
    from pyspark.sql import Window

    bucket = (hash_bucket(F.col(id_col)) % n_buckets).alias("pack_bucket")
    b = chunks.select(id_col, order_col, len_col, bucket)
    w = (
        Window.partitionBy("pack_bucket")
        .orderBy(id_col, order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum(len_col).over(w), F.lit(0))
    return b.select(
        id_col,
        order_col,
        len_col,
        "pack_bucket",
        (F.col("pack_bucket") * _PACK_STRIDE + F.floor(before / budget))
        .cast("long")
        .alias("pack_id"),
    )


def pipe_pack_global(spark, sf_dir):
    """Gate: cross-document packing of the standard chunks into 64-token
    budgets across 64 hash buckets."""
    return pack_sequences_global(
        chunk_documents(load_table(spark, "documents", sf_dir))
    )


PIPELINE_QUERIES["pipe_pack_global"] = pipe_pack_global

PIPELINE_ORACLE["pipe_pack_global"] = (
    _CHUNK_CTE
    + f", cb AS (SELECT ch.*, ({_bucket_sql('doc_id')} % {PACK_GLOBAL_BUCKETS}) "
    "AS pack_bucket FROM ch) "
    "SELECT doc_id, chunk_id, n_chunk_tokens, pack_bucket, "
    f"(pack_bucket * {_PACK_STRIDE} + CAST(FLOOR(COALESCE(SUM(n_chunk_tokens) OVER ("
    "  PARTITION BY pack_bucket ORDER BY doc_id, chunk_id "
    "  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
    f"/ {PACK_BUDGET}) AS BIGINT))::BIGINT AS pack_id "
    "FROM cb"
)


# --------------------------------------------------------------------------
# weighted source upsampling (epoch mixing with fractional repeat factors)
# --------------------------------------------------------------------------

#: per-source repeat weights for the gate. Fractional weights exercise the
#: probabilistic extra copy; a sub-1.0 weight exercises downsampling
#: through the SAME formula (floor(w)=0 ⇒ keep with probability w).
UPSAMPLE_WEIGHTS = {"src1": 2.3, "src7": 1.5, "src3": 0.4}


def upsample_weighted(
    df: DataFrame,
    weights: dict[str, float],
    source_col: str = "source",
    key_col: str = "doc_id",
) -> DataFrame:
    """Replicate rows by per-source repeat factor w: every row gets
    floor(w) copies plus one more iff its hash bucket falls under
    frac(w) — so E[copies] = w exactly, per row, deterministically.
    This is how LLM corpus mixes realize "2.3 epochs of wiki, 0.4 of
    crawl" (GPT-3/Llama-style sampling weights) without RNG state:
    re-running the build, growing the corpus, or changing partitioning
    never flips a row's copy count.

    Output one row per (row, copy_idx 1..n_copies); n_copies = 0 rows
    (downsampled out) vanish. Map-side only — explode(sequence) with a
    bounded factor, zero shuffle; the hash is salted with 'up' so a
    row's upsample fate is independent of its split/sample fate.

    Engine parity: the integer (floor, threshold) pair per source is
    precomputed HERE and the same literals feed both the Column
    expression and the oracle SQL — computing frac(w)·1e6 inside each
    engine diverges on the truncation of the binary fraction (0.3 as a
    double is 0.2999…, so Spark's cast truncated to 299999 while
    DuckDB's DECIMAL arithmetic yielded 300000 — a latent off-by-one
    red row on whichever doc hashes to the disputed bucket). NULL-key
    rows are EXCLUDED on both sides, same contract (and reason) as
    stratified_sample."""
    pieces = _upsample_pieces(weights)
    fl = None
    th = None
    for s, (fl_i, th_i) in pieces.items():
        cond = F.col(source_col) == s
        fl = F.when(cond, fl_i) if fl is None else fl.when(cond, fl_i)
        th = F.when(cond, th_i) if th is None else th.when(cond, th_i)
    fl = F.lit(1) if fl is None else fl.otherwise(F.lit(1))
    th = F.lit(0) if th is None else th.otherwise(F.lit(0))
    extra = (
        hash_bucket(F.concat(F.lit("up␟"), F.col(key_col).cast("string")))
        < th.cast("bigint")
    ).cast("bigint")
    n_copies = fl.cast("bigint") + extra
    return (
        df.where(F.col(key_col).isNotNull() & F.col(source_col).isNotNull())
        .withColumn("_n_copies", n_copies)
        .where(F.col("_n_copies") > 0)
        .withColumn("copy_idx", F.explode(F.sequence(F.lit(1), F.col("_n_copies"))))
        .drop("_n_copies")
    )


def _upsample_pieces(weights: dict[str, float]) -> dict[str, tuple[int, int]]:
    """Per-source (floor(w), round(frac(w)·HASH_BUCKETS)) as exact ints."""
    import math

    out = {}
    for s, wt in weights.items():
        fl = int(math.floor(wt))
        out[s] = (fl, int(round((wt - fl) * HASH_BUCKETS)))
    return out


def pipe_upsample_sources(spark, sf_dir):
    """Gate: weighted source upsampling of documents (2.3 / 1.5 / 0.4 /
    default 1.0 epochs)."""
    d = load_table(spark, "documents", sf_dir)
    return upsample_weighted(d, UPSAMPLE_WEIGHTS).select(
        "doc_id", "source", "copy_idx"
    )


PIPELINE_QUERIES["pipe_upsample_sources"] = pipe_upsample_sources

def _upsample_oracle() -> str:
    pieces = _upsample_pieces(UPSAMPLE_WEIGHTS)
    fl_cases = " ".join(f"WHEN '{s}' THEN {fl}" for s, (fl, _) in pieces.items())
    th_cases = " ".join(f"WHEN '{s}' THEN {th}" for s, (_, th) in pieces.items())
    bucket = _bucket_sql("'up␟' || CAST(doc_id AS VARCHAR)")
    return (
        "WITH w AS ("
        f"  SELECT doc_id, source, CASE source {fl_cases} ELSE 1 END fl, "
        f"  CASE source {th_cases} ELSE 0 END th "
        "  FROM documents WHERE doc_id IS NOT NULL AND source IS NOT NULL"
        "), n AS ("
        "  SELECT doc_id, source, fl::BIGINT + "
        f"  (CASE WHEN {bucket} < th THEN 1 ELSE 0 END) nc "
        "  FROM w"
        ") "
        "SELECT doc_id, source, unnest(range(1, nc + 1))::BIGINT copy_idx "
        "FROM n WHERE nc > 0"
    )


PIPELINE_ORACLE["pipe_upsample_sources"] = _upsample_oracle()


# --------------------------------------------------------------------------
# exact repeated-span dedup (boilerplate removal within a corpus)
# --------------------------------------------------------------------------

#: tokens per span for exact span-level dedup. Non-overlapping windows:
#: the goal is removing repeated boilerplate RUNS, not near-dup scoring.
SPAN_TOKENS = 8


def dedup_spans(docs: DataFrame, span_tokens: int = SPAN_TOKENS) -> DataFrame:
    """Exact span-level dedup: split each document into non-overlapping
    ``span_tokens``-token spans and keep only the corpus-wide FIRST
    occurrence of each distinct span (order = (doc_id, span_idx)) — the
    suffix-array-free form of repeated-substring removal used to strip
    shared boilerplate (headers, license blocks, nav text) before
    training.

    Output: (doc_id, span_idx, span_hash, keep) for every span; callers
    reassemble kept spans per document (see reassemble_spans). The ONLY
    shuffle is the window over span_hash — a 32-char md5, never the span
    text, so exchange bytes are O(spans·32B) regardless of span length.
    Rank-1-per-hash compiles to WindowGroupLimit-backed row_number
    (O(1) state per key); docs shorter than one span emit nothing."""
    return _span_keep_flags(docs, span_tokens).select(
        "doc_id", "span_idx", "span_hash", "keep"
    )


def _doc_spans(docs: DataFrame, span_tokens: int) -> DataFrame:
    """(doc_id, span_idx, span_text): non-overlapping token windows."""
    t = tokens("text")
    return (
        docs.select("doc_id", t.alias("t"))
        .where(F.size("t") >= span_tokens)
        .select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    (F.floor(F.size("t") / span_tokens) - 1).cast("int"),
                )
            ).alias("span_idx"),
            F.col("t"),
        )
        .select(
            "doc_id",
            F.col("span_idx").cast("bigint").alias("span_idx"),
            F.array_join(
                F.slice(
                    F.col("t"),
                    F.col("span_idx") * span_tokens + 1,
                    span_tokens,
                ),
                " ",
            ).alias("span_text"),
        )
    )


def _span_keep_flags(docs: DataFrame, span_tokens: int) -> DataFrame:
    """Spans + corpus-wide first-occurrence flag (shared by the flag
    gate and the reassembly)."""
    from pyspark.sql import Window

    spans = _doc_spans(docs, span_tokens).withColumn(
        "span_hash", F.md5(F.col("span_text"))
    )
    w = Window.partitionBy("span_hash").orderBy("doc_id", "span_idx")
    return spans.withColumn("keep", F.row_number().over(w) == 1)


def pipe_dedup_spans(spark, sf_dir):
    """Gate: corpus-wide first-occurrence flags for 8-token spans."""
    return dedup_spans(load_table(spark, "documents", sf_dir))


PIPELINE_QUERIES["pipe_dedup_spans"] = pipe_dedup_spans
PIPELINE_ORACLE["pipe_dedup_spans"] = (
    "WITH toks AS ("
    "  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') t "
    "  FROM documents"
    "), spans AS ("
    f"  SELECT doc_id, unnest(range(0, CAST(FLOOR(len(t)/{SPAN_TOKENS}) AS BIGINT))) "
    "  AS span_idx, t "
    f"  FROM toks WHERE len(t) >= {SPAN_TOKENS}"
    "), h AS ("
    "  SELECT doc_id, span_idx::BIGINT span_idx, "
    f"  md5(array_to_string(t[(span_idx*{SPAN_TOKENS}+1):(span_idx*{SPAN_TOKENS}+{SPAN_TOKENS})], ' ')) span_hash "
    "  FROM spans"
    ") "
    "SELECT doc_id, span_idx, span_hash, "
    "(ROW_NUMBER() OVER (PARTITION BY span_hash ORDER BY doc_id, span_idx) = 1) keep "
    "FROM h"
)


def reassemble_spans(docs: DataFrame, span_tokens: int = SPAN_TOKENS) -> DataFrame:
    """Rebuild each document from its KEPT spans (dedup_spans flags) —
    the second half of boilerplate removal: documents come back with
    corpus-repeated runs excised, first occurrence preserved. Output:
    (doc_id, n_spans_kept, clean_text). The per-doc concat is a single
    groupBy on doc_id; span order is restored by sorting the collected
    (span_idx, text) structs in-memory per doc — array_sort on a struct
    array orders by the leading field, so no second window is needed."""
    kept = _span_keep_flags(docs, span_tokens).where(F.col("keep"))
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("span_idx", "span_text"))
                    ),
                    lambda s: s["span_text"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )


def pipe_reassemble_spans(spark, sf_dir):
    """Gate: documents rebuilt from first-occurrence spans."""
    return reassemble_spans(load_table(spark, "documents", sf_dir))


PIPELINE_QUERIES["pipe_reassemble_spans"] = pipe_reassemble_spans
PIPELINE_ORACLE["pipe_reassemble_spans"] = (
    "WITH toks AS ("
    "  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') t "
    "  FROM documents"
    "), spans AS ("
    f"  SELECT doc_id, unnest(range(0, CAST(FLOOR(len(t)/{SPAN_TOKENS}) AS BIGINT))) "
    "  AS span_idx, t "
    f"  FROM toks WHERE len(t) >= {SPAN_TOKENS}"
    "), h AS ("
    "  SELECT doc_id, span_idx::BIGINT span_idx, "
    f"  array_to_string(t[(span_idx*{SPAN_TOKENS}+1):(span_idx*{SPAN_TOKENS}+{SPAN_TOKENS})], ' ') span_text "
    "  FROM spans"
    "), k AS ("
    "  SELECT *, (ROW_NUMBER() OVER ("
    "    PARTITION BY md5(span_text) ORDER BY doc_id, span_idx) = 1) keep "
    "  FROM h"
    ") "
    "SELECT doc_id, COUNT(*)::BIGINT n_spans_kept, "
    "string_agg(span_text, ' ' ORDER BY span_idx) clean_text "
    "FROM k WHERE keep GROUP BY doc_id"
)


def pipe_quality_report(spark, sf_dir):
    """Per-source corpus profile — the data-quality report a pipeline
    gates ingestion on (row counts, null text, length distribution,
    language spread, short-doc share). ONE aggregation pass: every
    metric is a map-side-combinable aggregate over the same groupBy, so
    the whole profile costs a single shuffle on ``source`` regardless of
    corpus size; no per-metric jobs, no driver-side loop over columns.
    (The reference's closest analogue is its type-guessing scan,
    data-table.lisp:283-305 — one pass, many per-column judgments.)"""
    d = load_table(spark, "documents", sf_dir)
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("text").isNull().cast("long")).alias("n_null_text"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum((F.col("n_chars") < 200).cast("long")).alias("n_short"),
    )


PIPELINE_QUERIES["pipe_quality_report"] = pipe_quality_report
PIPELINE_ORACLE["pipe_quality_report"] = (
    # CAST(SUM(..) AS BIGINT): DuckDB SUM(int) is HUGEINT → pandas
    # float64 on the driver, hash-mismatching Spark's long output.
    "SELECT source, COUNT(*) AS n_docs, "
    "  CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
    "    AS n_null_text, "
    "  ROUND(AVG(n_chars), 2) AS avg_chars, "
    "  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars, "
    "  COUNT(DISTINCT lang) AS n_langs, "
    "  CAST(SUM(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END) AS BIGINT)"
    "    AS n_short "
    "FROM documents GROUP BY source"
)


#: deterministic-shuffle geometry: shard count (= training data-loader
#: parallelism) and the epoch seed folded into the hash key
SHUFFLE_SHARDS = 16
SHUFFLE_EPOCH = 1


def pipe_shuffle_shards(spark, sf_dir):
    """Deterministic corpus shuffle: every document gets an epoch-seeded
    (shard, position) — the global training order a data loader consumes
    as "read shard s sequentially, s assigned round-robin". Shard AND
    within-shard order both key on md5(epoch ⊕ doc_id), so (a) the order
    is reproducible bit-for-bit on any cluster, (b) changing
    SHUFFLE_EPOCH re-deals the entire order with zero state (no RNG, no
    persisted permutation), and (c) appending documents never perturbs
    the relative order of existing ones within an unchanged epoch. The
    position window partitions BY SHARD — parallelism = shard count, no
    global single-reducer sort (the classic global ORDER BY md5 would
    be); at 100 TB raise SHUFFLE_SHARDS to the loader worker count."""
    d = load_table(spark, "documents", sf_dir)
    key = F.md5(
        F.concat(
            F.lit(f"ep{SHUFFLE_EPOCH}␟"), F.col("doc_id").cast("string")
        )
    )
    shard = (
        F.conv(F.substring(key, 1, 8), 16, 10).cast("bigint")
        % SHUFFLE_SHARDS
    )
    from pyspark.sql import Window

    w = Window.partitionBy("shard").orderBy("sort_key", "doc_id")
    return (
        d.select(
            "doc_id",
            shard.alias("shard"),
            key.alias("sort_key"),
        )
        .withColumn("pos", F.row_number().over(w))
        .select("doc_id", "shard", "pos")
    )


PIPELINE_QUERIES["pipe_shuffle_shards"] = pipe_shuffle_shards
_SHUF_KEY = f"md5('ep{SHUFFLE_EPOCH}' || chr(9247) || CAST(doc_id AS VARCHAR))"
PIPELINE_ORACLE["pipe_shuffle_shards"] = (
    "WITH k AS ("
    f"  SELECT doc_id, {_SHUF_KEY} AS sort_key, "
    f"    (('0x' || substr({_SHUF_KEY}, 1, 8))::BIGINT % {SHUFFLE_SHARDS}) "
    "      AS shard FROM documents) "
    "SELECT doc_id, shard, ROW_NUMBER() OVER ("
    "  PARTITION BY shard ORDER BY sort_key, doc_id) AS pos FROM k"
)


#: weighted-interleave geometry: per-source stride in 1/12ths (stride =
#: 12/weight, so src0 is sampled 4x and src1/src2 2x as densely as the
#: default); interpolated into the oracle SQL so gate and oracle cannot
#: desynchronize
INTERLEAVE_STRIDES = {"src0": 3, "src1": 6, "src2": 6}
INTERLEAVE_DEFAULT_STRIDE = 12
INTERLEAVE_N = 200


def pipe_interleave_sources(spark, sf_dir):
    """Deterministic weighted source interleave — the training-mixture
    schedule: every document gets a virtual position vt = (h+1)·stride,
    where h is a uniform md5 hash and stride ∝ 1/weight, so reading the
    corpus in vt order interleaves sources at their weight ratios
    (stride scheduling) with NO RNG, no state, reproducible bit-for-bit
    and stable under appends. Integer arithmetic end-to-end: vt is a
    BIGINT, so the global order has no float-boundary ambiguity. The
    gate takes the first INTERLEAVE_N positions: orderBy+limit compiles
    to TakeOrderedAndProject (per-partition partial top-N, single
    N-row merge) — no global sort at any scale; the full-corpus
    consumer instead writes vt with write_sorted_ranges and streams
    shards in order."""
    d = load_table(spark, "documents", sf_dir)
    stride = F.lit(INTERLEAVE_DEFAULT_STRIDE)
    for src, s in INTERLEAVE_STRIDES.items():
        stride = F.when(F.col("source") == src, F.lit(s)).otherwise(stride)
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("il:"), F.col("doc_id").cast("string"))),
            1, 8,
        ),
        16, 10,
    ).cast("bigint")
    return (
        d.select(
            "doc_id",
            "source",
            ((h + 1) * stride).alias("vt"),
        )
        .orderBy("vt", "doc_id")
        .limit(INTERLEAVE_N)
    )


PIPELINE_QUERIES["pipe_interleave_sources"] = pipe_interleave_sources
PIPELINE_ORACLE["pipe_interleave_sources"] = (
    "SELECT doc_id, source, "
    "  (('0x' || substr(md5('il:' || CAST(doc_id AS VARCHAR)), 1, 8))"
    "    ::BIGINT + 1) * (CASE "
    + " ".join(
        f"WHEN source = '{src}' THEN {s}"
        for src, s in INTERLEAVE_STRIDES.items()
    )
    + f" ELSE {INTERLEAVE_DEFAULT_STRIDE} END) AS vt "
    "FROM documents "
    f"ORDER BY vt, doc_id LIMIT {INTERLEAVE_N}"
)


#: PII patterns shared by the Spark expressions and the DuckDB oracle —
#: plain-ASCII character classes only, so Java regex and RE2 agree
PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_IPV4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
PII_PHONE = "\\+?\\d[\\d -]{7,}\\d"


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails → <EMAIL>, IPv4s → <IP>, phone-like digit runs →
    <PHONE> (in that order — the IP pass must run before the phone pass
    or dotted quads' digit runs feed the phone pattern). Pure
    regexp_replace expressions: map-side, codegen'd, zero shuffle — the
    shape PII redaction must have at 100 TB. Patterns are conservative
    ASCII classes that mean the same thing in Java regex (Spark) and
    RE2 (DuckDB); counts are taken BEFORE scrubbing."""
    c = F.col(text_col)
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(c, PII_EMAIL, "<EMAIL>"),
            PII_IPV4, "<IP>",
        ),
        PII_PHONE, "<PHONE>",
    )
    return df.withColumn("n_emails", F.regexp_count(c, F.lit(PII_EMAIL)).cast("long")) \
        .withColumn("n_ips", F.regexp_count(c, F.lit(PII_IPV4)).cast("long")) \
        .withColumn("n_phones", F.regexp_count(c, F.lit(PII_PHONE)).cast("long")) \
        .withColumn("scrubbed", scrubbed)


def pipe_pii_scrub(spark, sf_dir):
    """Gate: PII redaction over documents with PLANTED deterministic PII
    (the fixture corpus is synthetic prose with no real PII, so each doc
    gains an email + phone + IPv4 derived from its doc_id — the planted-
    fixture pattern the dedup family uses). Output: per-doc redaction
    counts and the sha256 of the scrubbed text, all DuckDB-replayed."""
    d = load_table(spark, "documents", sf_dir)
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com tel +1-555-0"),
            # lpad to 2 digits: a 1-digit suffix leaves the digit run
            # one char short of PII_PHONE's {7,} core (review finding)
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            F.lit(" ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7"),
        ).alias("text"),
    )
    out = pii_scrub(planted)
    return out.select(
        "doc_id", "n_emails", "n_ips", "n_phones",
        F.sha2(F.col("scrubbed"), 256).alias("scrubbed_sha"),
    )


PIPELINE_QUERIES["pipe_pii_scrub"] = pipe_pii_scrub
PIPELINE_ORACLE["pipe_pii_scrub"] = (
    "WITH planted AS ("
    "  SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR) "
    "    || '@example.com tel +1-555-0' "
    "    || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') "
    "    || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS t "
    "  FROM documents) "
    "SELECT doc_id, "
    f"  CAST(len(regexp_extract_all(t, '{PII_EMAIL}')) AS BIGINT)"
    "    AS n_emails, "
    f"  CAST(len(regexp_extract_all(t, '{PII_IPV4}')) AS BIGINT) AS n_ips, "
    f"  CAST(len(regexp_extract_all(t, '{PII_PHONE}')) AS BIGINT)"
    "    AS n_phones, "
    "  sha256(regexp_replace(regexp_replace(regexp_replace(t, "
    f"    '{PII_EMAIL}', '<EMAIL>', 'g'), "
    f"    '{PII_IPV4}', '<IP>', 'g'), "
    f"    '{PII_PHONE}', '<PHONE>', 'g')) AS scrubbed_sha "
    "FROM planted"
)


def pps_sample(
    df: DataFrame,
    order_col: str,
    weight_col: str,
    k: int = 50,
) -> DataFrame:
    """Systematic probability-proportional-to-size sampling — the
    classic survey-sampling design (Madow 1949): lay the population on
    a line where each row occupies a segment of length = its weight,
    then take k equally-spaced picks (offset step/2). Every row with
    weight ≥ step is certainly selected; otherwise inclusion
    probability ≈ k·w/W — exactly the PPS property a token-budgeted
    corpus sample wants (long docs proportionally represented, no
    random state, reproducible run to run).

    All arithmetic is exact BIGINT, so the oracle replays it verbatim.
    The prefix sum over the weight line uses
    :func:`~data_table_spark.operators.scale.distributed_prefix_sum`
    (two-phase bucket scan), NOT a global window — the one structural
    trap of cumulative designs at 100 TB. A row is selected iff its
    segment (cum−w, cum] contains a pick o + j·step, detected without
    a join by comparing floor((cum−o−1)/step) between segment ends."""
    from .scale import distributed_prefix_sum

    with_cum = distributed_prefix_sum(
        df.select(order_col, weight_col), order_col, weight_col,
        out_col="cum",
    )
    # grand total from ONE map-combinable scan (weights are
    # non-negative by contract, so sum == max(cum); running max over
    # the prefix-sum plan would execute that whole pipeline a second
    # time just to read its last value)
    total = int(df.agg(F.sum(weight_col).alias("w")).collect()[0]["w"])
    step = max(total // k, 1)
    off = step // 2
    # the non-negativity shift must be a MULTIPLE of step, or it moves
    # the pick anchor off the documented step/2 residue; `div` stays in
    # exact 64-bit integers (a `/` would round-trip through double and
    # lose exactness past 2^53 — reachable cum magnitudes at scale)
    shift = (total // step + 1) * step
    hi = F.expr(f"(cum + {shift} - {off} - 1) div {step}")
    lo = F.expr(
        f"(cum - {weight_col} + {shift} - {off} - 1) div {step}"
    )
    return (
        with_cum.where(hi > lo)
        .select(
            order_col,
            F.col(weight_col).alias("weight"),
            F.col("cum"),
        )
    )


def pipe_pps_sample(spark, sf_dir):
    """Gate: systematic PPS over documents weighted by n_chars."""
    d = load_table(spark, "documents", sf_dir).select("doc_id", "n_chars")
    return pps_sample(d, "doc_id", "n_chars", k=50)


PIPELINE_QUERIES["pipe_pps_sample"] = pipe_pps_sample


def _pps_oracle() -> str:
    # replay: plain window prefix sum (the oracle may be quadratic /
    # single-threaded — it is the SEMANTIC definition, not the plan),
    # same integer step/offset arithmetic
    return (
        "WITH c AS ("
        "  SELECT doc_id, n_chars, "
        "    CAST(SUM(n_chars) OVER (ORDER BY doc_id "
        "      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum "
        "  FROM documents), "
        "t AS (SELECT MAX(cum) AS w FROM c), "
        "p AS (SELECT GREATEST(w // 50, 1) AS step, "
        "  GREATEST(w // 50, 1) // 2 AS off, "
        "  (w // GREATEST(w // 50, 1) + 1) * GREATEST(w // 50, 1) "
        "    AS shift, w FROM t) "
        "SELECT doc_id, n_chars AS weight, cum "
        "FROM c, p "
        "WHERE (cum + shift - off - 1) // step "
        "    > (cum - n_chars + shift - off - 1) // step"
    )


PIPELINE_ORACLE["pipe_pps_sample"] = _pps_oracle()


# --------------------------------------------------------------------------
# data-quality expectations (Deequ-style constraint audit)
# --------------------------------------------------------------------------

def pipe_expectations(spark, sf_dir):
    """Declarative data-quality audit over the warehouse — one report
    row per constraint with checked/violation counts, the contract
    gate a 100 TB ingest runs BEFORE publishing a snapshot (the
    engine-side equivalent of Deequ/Great Expectations checks).

    Scale shape: every per-table rule family collapses into ONE
    conditional aggregate over that table (never a scan per rule), so
    the audit costs one pass per audited table plus one anti join for
    the referential-integrity rule — the only rule that fundamentally
    needs a join. The anti join shuffles both sides on the FK;
    Catalyst flips its build side broadcast→SMJ by size exactly as in
    q68's smoke."""
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)

    li_agg = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(
                (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1
            ).otherwise(0)
        ).alias("v_qty"),
        F.sum(
            F.when(
                (F.col("l_discount") < 0) | (F.col("l_discount") > 0.10), 1
            ).otherwise(0)
        ).alias("v_disc"),
        F.sum(
            F.when(F.col("l_shipdate").isNull(), 1).otherwise(0)
        ).alias("v_ship"),
    ).select(F.expr(
        "stack(3, "
        "'lineitem_qty_in_1_50', n, v_qty, "
        "'lineitem_discount_in_0_10pct', n, v_disc, "
        "'lineitem_shipdate_not_null', n, v_ship) "
        "AS (rule, n_checked, n_violations)"
    ))
    o_agg = o.agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("v_dup"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1)
            .otherwise(0)
        ).alias("v_status"),
    ).select(F.expr(
        "stack(2, "
        "'orders_pk_unique', n, v_dup, "
        "'orders_status_in_domain', n, v_status) "
        "AS (rule, n_checked, n_violations)"
    ))
    c_agg = c.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("c_acctbal").isNull(), 1).otherwise(0)
        ).alias("v_bal"),
    ).select(F.expr(
        "stack(1, 'customer_acctbal_not_null', n, v_bal) "
        "AS (rule, n_checked, n_violations)"
    ))
    # Round-14 (guide §1.2, fewer passes): the FK rule used TWO driver
    # actions (a full lineitem count + an anti-join count) executed
    # before the report plan, which then re-scanned lineitem again — the
    # fact table was read 3x per run. One left join against the DISTINCT
    # key side (count-preserving on ANY input, and orphans are exactly
    # the no-match rows — same two numbers the count pair produced)
    # folds the rule into the single report plan: lineitem is scanned
    # twice total and the gate runs zero driver actions.
    fk_row = (
        li.select("l_orderkey")
        .join(
            o.select("o_orderkey").distinct(),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)
            ).alias("v_fk"),
        )
        .select(F.expr(
            "stack(1, 'lineitem_orderkey_fk_orders', n, v_fk) "
            "AS (rule, n_checked, n_violations)"
        ))
    )
    report = li_agg.unionByName(o_agg).unionByName(c_agg).unionByName(fk_row)
    return report.select(
        "rule",
        F.col("n_checked").cast("long").alias("n_checked"),
        F.col("n_violations").cast("long").alias("n_violations"),
    )


PIPELINE_QUERIES["pipe_expectations"] = pipe_expectations
PIPELINE_ORACLE["pipe_expectations"] = (
    "SELECT 'lineitem_qty_in_1_50' AS rule, "
    "  CAST(COUNT(*) AS BIGINT) AS n_checked, "
    "  CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 "
    "    THEN 1 ELSE 0 END) AS BIGINT) AS n_violations FROM lineitem "
    "UNION ALL "
    "SELECT 'lineitem_discount_in_0_10pct', CAST(COUNT(*) AS BIGINT), "
    "  CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.10 "
    "    THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem "
    "UNION ALL "
    "SELECT 'lineitem_shipdate_not_null', CAST(COUNT(*) AS BIGINT), "
    "  CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) "
    "    AS BIGINT) FROM lineitem "
    "UNION ALL "
    "SELECT 'orders_pk_unique', CAST(COUNT(*) AS BIGINT), "
    "  CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) FROM orders "
    "UNION ALL "
    "SELECT 'orders_status_in_domain', CAST(COUNT(*) AS BIGINT), "
    "  CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') "
    "    THEN 1 ELSE 0 END) AS BIGINT) FROM orders "
    "UNION ALL "
    "SELECT 'customer_acctbal_not_null', CAST(COUNT(*) AS BIGINT), "
    "  CAST(SUM(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) "
    "    AS BIGINT) FROM customer "
    "UNION ALL "
    "SELECT 'lineitem_orderkey_fk_orders', "
    "  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem), "
    "  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem "
    "   WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))"
)


def pipe_bucket_batches(spark, sf_dir):
    """Length-bucketed batch assembly — the pad-waste minimizer every
    training loader runs: group documents into power-of-two token-
    length buckets (floor(log2 n) == len(bin(n)) - 1, computed via the
    binary STRING so neither engine touches libm log2), order each
    bucket deterministically by md5 rank, and cut fixed-size batches of
    8. The report prices the batching: per batch, the padded cost is
    n_docs·max_tokens and the waste is that minus the real token sum —
    all exact integers. (pipe_pack_sequences concatenates into fixed
    windows; THIS keeps documents whole and minimizes padding — the
    two standard loader strategies.)

    Scale note: the ranking window partitions on the ~15 log2 buckets,
    which is the q22-class low-cardinality caveat — the 100 TB form
    shards each bucket by a hash prefix first (pipe_shuffle_shards'
    per-shard windows) and batches within shards, trading global batch
    numbering for unbounded parallelism; the within-shard construction
    is IDENTICAL to this gate's."""
    d = load_table(spark, "documents", sf_dir)
    n_tok = F.regexp_count(F.col("text"), F.lit(r"\S+"))
    base = d.select(
        "doc_id",
        F.greatest(n_tok, F.lit(1)).alias("n_tokens"),
    ).withColumn(
        "bucket", (F.length(F.bin(F.col("n_tokens"))) - 1).cast("long")
    )
    w = Window.partitionBy("bucket").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    batched = base.withColumn(
        "batch_id", ((F.row_number().over(w) - 1) / 8).cast("long")
    )
    return batched.groupBy("bucket", "batch_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.max("n_tokens").cast("long").alias("max_tokens"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        (F.count(F.lit(1)) * F.max("n_tokens") - F.sum("n_tokens"))
        .cast("long").alias("pad_waste"),
    )


PIPELINE_QUERIES["pipe_bucket_batches"] = pipe_bucket_batches
PIPELINE_ORACLE["pipe_bucket_batches"] = (
    "WITH base AS ("
    "  SELECT doc_id, "
    "    GREATEST(len(regexp_extract_all(text, '\\S+')), 1) AS n_tokens "
    "  FROM documents), "
    "b AS ("
    "  SELECT doc_id, n_tokens, "
    "    CAST(LENGTH(bin(n_tokens)) - 1 AS BIGINT) AS bucket "
    "  FROM base), "
    "r AS ("
    "  SELECT *, CAST((ROW_NUMBER() OVER (PARTITION BY bucket "
    "    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1) // 8 "
    "    AS BIGINT) AS batch_id "
    "  FROM b) "
    "SELECT bucket, batch_id, CAST(COUNT(*) AS BIGINT) AS n_docs, "
    "  CAST(MAX(n_tokens) AS BIGINT) AS max_tokens, "
    "  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens, "
    "  CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT) "
    "    AS pad_waste "
    "FROM r GROUP BY 1, 2"
)


# --------------------------------------------------------------------------
# temperature-scaled source mixing weights
# --------------------------------------------------------------------------

def temperature_weights(
    df: DataFrame,
    source_col: str = "source",
    alpha_num: int = 1,
    alpha_den: int = 2,
) -> DataFrame:
    """Temperature-scaled multinomial mixing weights over sources —
    the multilingual-LM recipe (sample source i with probability
    p_i^α / Σ p_j^α, α < 1 upweights the tail): for each source,
    report its raw share and its α = alpha_num/alpha_den tempered
    sampling weight, plus the implied duplication factor (tempered
    target count / raw count — >1 means the source repeats epochs).

    One count aggregate + one broadcast of the source-sized summary:
    no per-row math beyond the final join. α = 1/2 evaluates via
    IEEE sqrt (exactly rounded, engine-identical); general rationals
    would use pow — kept at 1/2 so the gate stays hash-exact. The
    only floats are sqrt and the final divisions, rounded once."""
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("n_docs"))
    assert (alpha_num, alpha_den) == (1, 2), "hash-exact gate pins α=1/2"
    powed = counts.withColumn(
        "tempered", F.sqrt(F.col("n_docs").cast("double"))
    )
    tot = powed.agg(
        F.sum("n_docs").alias("tot_docs"),
        F.sum("tempered").alias("tot_tempered"),
    )
    return (
        powed.join(F.broadcast(tot))
        .select(
            source_col,
            F.col("n_docs").cast("long").alias("n_docs"),
            F.round(F.col("n_docs") / F.col("tot_docs"), 6)
            .alias("raw_share"),
            F.round(F.col("tempered") / F.col("tot_tempered"), 6)
            .alias("tempered_weight"),
            F.round(
                (F.col("tempered") / F.col("tot_tempered"))
                * F.col("tot_docs") / F.col("n_docs"),
                6,
            ).alias("dup_factor"),
        )
    )


def pipe_temperature_mix(spark, sf_dir):
    """Gate: α=1/2 tempered source-mixing weights over documents."""
    return temperature_weights(load_table(spark, "documents", sf_dir))


PIPELINE_QUERIES["pipe_temperature_mix"] = pipe_temperature_mix
PIPELINE_ORACLE["pipe_temperature_mix"] = (
    "WITH counts AS ("
    "  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1), "
    "t AS ("
    "  SELECT SUM(n_docs) AS tot_docs, "
    "    SUM(SQRT(CAST(n_docs AS DOUBLE))) AS tot_tempered "
    "  FROM counts) "
    "SELECT source, CAST(n_docs AS BIGINT) AS n_docs, "
    "  ROUND(CAST(n_docs AS DOUBLE) / tot_docs, 6) AS raw_share, "
    "  ROUND(SQRT(CAST(n_docs AS DOUBLE)) / tot_tempered, 6) "
    "    AS tempered_weight, "
    "  ROUND((SQRT(CAST(n_docs AS DOUBLE)) / tot_tempered) "
    "    * tot_docs / n_docs, 6) AS dup_factor "
    "FROM counts, t"
)


# --------------------------------------------------------------------------
# tokenize to ids + pad: the tensorization last mile
# --------------------------------------------------------------------------

def tokenize_pad(
    docs: DataFrame,
    vocab_size: int = 256,
    max_len: int = 16,
) -> DataFrame:
    """The last pipeline step before tensors: map each document's
    whitespace tokens to integer vocabulary ids (top-``vocab_size``
    corpus tokens by (freq desc, token); id 0 = PAD, 1 = UNK, vocab
    starts at 2), truncate to ``max_len``, and right-pad with PAD —
    per doc: the id sequence (csv — the driver's proven scalar
    surface; arrays stay out of the hash), real-token count, and
    in-window OOV count.

    Scale shape: the vocabulary is selected with TakeOrdered (a
    distributed top-k, never a global sort) and id-assigned by a rank
    window over the ALREADY-LIMITED vocab_size rows — bounded by
    construction, so its broadcast join against the token stream is
    legitimate (q136's argument). Token explode filters empties
    BEFORE posexplode so positions are dense; re-assembly is one
    grouped sort_array over ≤ max_len rows per doc."""
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id",
        F.posexplode(tokens("text", drop_empty=True)).alias("pos", "token"),
    )
    top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "token")
        .limit(vocab_size)
    )
    vocab = top.select(
        "token",
        (
            F.row_number().over(
                Window.orderBy(F.col("freq").desc(), "token")
            )
            + F.lit(1)
        ).cast("int").alias("tok_id"),
    )
    window_toks = toks.where(F.col("pos") < max_len)
    with_ids = window_toks.join(F.broadcast(vocab), "token", "left").select(
        "doc_id", "pos",
        F.coalesce(F.col("tok_id"), F.lit(1)).alias("tok_id"),
    )
    assembled = with_ids.groupBy("doc_id").agg(
        F.transform(
            F.sort_array(
                F.collect_list(F.struct("pos", "tok_id"))
            ),
            lambda s: s["tok_id"],
        ).alias("ids"),
        F.count(F.lit(1)).cast("long").alias("n_real"),
        F.sum(F.when(F.col("tok_id") == 1, 1).otherwise(0))
        .cast("long").alias("n_oov"),
    )
    padded = assembled.select(
        "doc_id",
        F.concat_ws(
            ",",
            F.concat(
                F.col("ids"),
                F.array_repeat(
                    F.lit(0), F.lit(max_len) - F.size("ids")
                ),
            ),
        ).alias("ids_csv"),
        "n_real", "n_oov",
    )
    return padded


def pipe_tokenize_pad(spark, sf_dir):
    """Gate: token-id tensorization (vocab 256, window 16) over
    documents."""
    return tokenize_pad(load_table(spark, "documents", sf_dir))


PIPELINE_QUERIES["pipe_tokenize_pad"] = pipe_tokenize_pad
PIPELINE_ORACLE["pipe_tokenize_pad"] = (
    "WITH toks0 AS ("
    "  SELECT doc_id, list_filter(string_split_regex(LOWER(TRIM(text)), "
    "    '\\s+'), x -> x <> '') AS l "
    "  FROM documents), "
    "toks AS ("
    "  SELECT doc_id, UNNEST(l) AS token, "
    "    generate_subscripts(l, 1) - 1 AS pos "
    "  FROM toks0), "
    "top_v AS ("
    "  SELECT token, COUNT(*) AS freq FROM toks GROUP BY 1 "
    "  ORDER BY freq DESC, token LIMIT 256), "
    "vocab AS ("
    "  SELECT token, CAST(ROW_NUMBER() OVER ("
    "    ORDER BY freq DESC, token) + 1 AS INT) AS tok_id "
    "  FROM top_v), "
    "with_ids AS ("
    "  SELECT doc_id, pos, COALESCE(tok_id, 1) AS tok_id "
    "  FROM toks LEFT JOIN vocab USING (token) WHERE pos < 16), "
    "assembled AS ("
    "  SELECT doc_id, LIST(tok_id ORDER BY pos) AS ids, "
    "    CAST(COUNT(*) AS BIGINT) AS n_real, "
    "    CAST(SUM(CASE WHEN tok_id = 1 THEN 1 ELSE 0 END) AS BIGINT) "
    "      AS n_oov "
    "  FROM with_ids GROUP BY doc_id) "
    "SELECT doc_id, "
    "  array_to_string(ids || list_transform("
    "    range(16 - len(ids)), x -> 0), ',') AS ids_csv, "
    "  n_real, n_oov "
    "FROM assembled"
)


# --------------------------------------------------------------------------
# weighted reservoir sampling (fixed-size k, weight-proportional)
# --------------------------------------------------------------------------

WEIGHTED_RESERVOIR_K = 100


def weighted_reservoir(
    df: DataFrame, key_col: str, weight_col: str, k: int
) -> DataFrame:
    """Fixed-size weight-proportional sample WITHOUT replacement via the
    Efraimidis-Spirakis key (Inf. Proc. Letters 2006): each row draws
    u ∈ (0,1) and keeps key = u^(1/w); the k largest keys are exactly a
    weighted reservoir sample. Complements the repo's other two
    samplers: quality_weighted_sample is Bernoulli (random SIZE),
    topk_per_stratum is unweighted — this one is fixed-k AND weighted.

    Determinism: u = (hash_bucket(key)+0.5)/1e6 — the repo's md5
    bucket, identical in both engines — and the ordering uses
    ln(u)/w, monotone in u^(1/w) for w>0, so no pow() call; ln of the
    same double is engine-identical (q127's contract). Rows with w ≤ 0
    are excluded by definition (E-S is undefined at w=0).

    Scale shape: map-side key computation + ONE TakeOrderedAndProject
    (top-k, no global sort, no window) — the same plan Spark uses for
    any ORDER BY .. LIMIT k, aggregating per-partition heaps."""
    u = (hash_bucket(F.col(key_col)) + F.lit(0.5)) / F.lit(HASH_BUCKETS)
    es = F.log(u) / F.col(weight_col)
    return (
        df.where(F.col(weight_col) > 0)
        .select(
            F.col(key_col),
            F.col(weight_col),
            F.floor(es * 1_000_000).cast("long").alias("es_key_e6"),
            es.alias("_es"),
        )
        .orderBy(F.col("_es").desc(), F.col(key_col).asc())
        .limit(k)
        .drop("_es")
    )


def pipe_weighted_reservoir(spark, sf_dir):
    """Gate: fixed-100 quality-weighted document sample — selection
    probability proportional to the deterministic text_quality score,
    exactly k rows (vs pipe_quality_sample's Bernoulli thinning)."""
    from .textstats import quality_score

    d = load_table(spark, "documents", sf_dir)
    scored = d.withColumn("quality_score", quality_score(F.col("text")))
    return weighted_reservoir(
        scored, "doc_id", "quality_score", WEIGHTED_RESERVOIR_K
    )


PIPELINE_QUERIES["pipe_weighted_reservoir"] = pipe_weighted_reservoir
PIPELINE_ORACLE["pipe_weighted_reservoir"] = (
    "WITH scored AS ({qsub}) "
    "SELECT doc_id, quality_score, "
    "  CAST(FLOOR(LN(({b} + 0.5) / {n}) / quality_score * 1000000) "
    "    AS BIGINT) AS es_key_e6 "
    "FROM scored WHERE quality_score > 0 "
    "ORDER BY LN(({b} + 0.5) / {n}) / quality_score DESC, doc_id "
    "LIMIT {k}"
).format(
    qsub=_QUALITY_SCORE_SUBQUERY,
    b=_bucket_sql("doc_id"),
    n=HASH_BUCKETS,
    k=WEIGHTED_RESERVOIR_K,
)


# --------------------------------------------------------------------------
# waterfilling token-budget allocation across sources
# --------------------------------------------------------------------------

def token_budget_fill(docs: DataFrame, budget_frac: int = 2) -> DataFrame:
    """Hard-cap waterfilling across sources — the budgeted sibling of
    temperature_weights: given a token budget T = ⌊total/budget_frac⌋,
    find the integer per-source cap c such that Σ min(tokens_s, c) ≤ T
    is maximal, allocate min(tokens_s, c) to each source, and hand the
    integer remainder out as +1s to the largest capped sources
    (tok desc, source asc tie-break) so the allocation sums EXACTLY to
    T. Sources below the waterline keep everything; heavyweights are
    clipped to c — the standard recipe for "2T of web, 50G of
    wikipedia, budget 500G" mixing.

    The cap is found analytically over the ascending-sorted source
    table: at position k (1-indexed of n), capping between tok_{k-1}
    and tok_k spends prefix_{k-1} + c·(n−k+1); the first k where
    c_k = ⌊(T − prefix_{k-1}) / (n−k+1)⌋ < tok_k binds. All integer.

    Scale shape: ONE map-combinable token-count agg over the corpus
    collapses to the source table (vocab-bounded: tens of sources at
    any corpus size — the q135 weekday argument), and every window
    below runs on THAT bounded table; the fact scan is never windowed.
    Applying the allocation back to documents is a broadcast join of
    the per-source quota + any bounded per-source pick (pipe_pps /
    pipe_topk_per_stratum are the pickers) — not this gate's output."""
    counts = (
        docs.select("source", n_tokens(F.col("text")).alias("tok"))
        .groupBy("source")
        .agg(F.sum("tok").alias("tok"))
    )
    w_asc = Window.orderBy("tok", "source")
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    staged = counts.select(
        "source",
        "tok",
        F.row_number().over(w_asc).alias("rn"),
        (
            F.sum("tok").over(
                w_asc.rowsBetween(Window.unboundedPreceding, 0)
            )
            - F.col("tok")
        ).alias("prefix"),
        F.count(F.lit(1)).over(w_all).alias("n"),
        # FLOOR, not bare cast: DuckDB CAST(x.5 AS BIGINT) rounds while
        # Spark truncates — floor agrees in both engines for odd totals
        F.floor(F.sum("tok").over(w_all) / F.lit(budget_frac))
        .cast("long").alias("t_budget"),
    )
    cand = staged.withColumn(
        "c_k",
        F.floor(
            (F.col("t_budget") - F.col("prefix"))
            / (F.col("n") - F.col("rn") + 1)
        ).cast("long"),
    )
    # the binding cap is the candidate AT the first binding position
    # (smallest rn with c_k < tok) — later candidates are computed
    # against prefixes that already exceed the budget and are
    # meaningless (can go negative); if nothing binds the budget
    # covers everything and the cap is the max token count
    cap = cand.select(
        F.coalesce(
            F.min(
                F.when(
                    F.col("c_k") < F.col("tok"),
                    F.struct("rn", "c_k"),
                )
            ).getField("c_k"),
            F.max("tok"),
        ).alias("cap")
    ).collect()[0][0]
    if cap is None:  # empty corpus: no sources, no rows to allocate
        cap = 0
    alloc = cand.select(
        "source",
        "tok",
        "t_budget",
        F.least(F.col("tok"), F.lit(int(cap))).alias("base"),
    )
    w_rem = Window.orderBy(F.desc("tok"), F.asc("source"))
    return alloc.select(
        "source",
        F.col("tok").alias("n_tokens"),
        (
            F.col("base")
            + F.when(
                (F.col("base") < F.col("tok"))
                & (
                    F.row_number().over(w_rem)
                    <= F.col("t_budget") - F.sum("base").over(w_all)
                ),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).cast("long").alias("alloc_tokens"),
    )


def pipe_token_budget_fill(spark, sf_dir):
    """Gate: waterfilled half-budget allocation over document sources."""
    return token_budget_fill(load_table(spark, "documents", sf_dir))


PIPELINE_QUERIES["pipe_token_budget_fill"] = pipe_token_budget_fill
PIPELINE_ORACLE["pipe_token_budget_fill"] = (
    "WITH counts AS ("
    "  SELECT source, CAST(SUM(len(list_filter(string_split_regex("
    "    lower(trim(text)), '\\s+'), x -> x <> ''))) AS BIGINT) AS tok "
    "  FROM documents GROUP BY 1), "
    "staged AS ("
    "  SELECT source, tok, "
    "    ROW_NUMBER() OVER (ORDER BY tok, source) AS rn, "
    "    CAST(SUM(tok) OVER (ORDER BY tok, source "
    "      ROWS UNBOUNDED PRECEDING) - tok AS BIGINT) AS prefix, "
    "    COUNT(*) OVER () AS n, "
    "    CAST(FLOOR(SUM(tok) OVER () / 2.0) AS BIGINT) AS t_budget "
    "  FROM counts), "
    "cand AS ("
    "  SELECT *, CAST(FLOOR(CAST(t_budget - prefix AS DOUBLE) "
    "    / (n - rn + 1)) AS BIGINT) AS c_k "
    "  FROM staged), "
    "cap AS ("
    "  SELECT COALESCE(ARG_MIN(c_k, rn) FILTER (WHERE c_k < tok), "
    "    MAX(tok)) AS cap "
    "  FROM cand), "
    "alloc AS ("
    "  SELECT source, tok, t_budget, "
    "    LEAST(tok, (SELECT cap FROM cap)) AS base "
    "  FROM cand) "
    "SELECT source, tok AS n_tokens, "
    "  CAST(base + CASE WHEN base < tok AND "
    "    ROW_NUMBER() OVER (ORDER BY tok DESC, source ASC) "
    "      <= t_budget - SUM(base) OVER () "
    "    THEN 1 ELSE 0 END AS BIGINT) AS alloc_tokens "
    "FROM alloc"
)


# --------------------------------------------------------------------------
# k-anonymity audit over quasi-identifier combinations
# --------------------------------------------------------------------------

def k_anonymity_audit(docs: DataFrame, k: int = 5) -> DataFrame:
    """Per-source k-anonymity audit — the governance sibling of
    pipe_pii_scrub: bucket every document by its quasi-identifier
    combination (source, lang, length-in-hundreds) and report, per
    source, how many quasi-groups and documents sit in groups smaller
    than ``k`` — the re-identification surface a privacy review wants
    BEFORE release (a group of 1 means that document is unique on its
    quasi-identifiers alone).

    Scale shape: one map-combinable count per quasi-group, then one
    conditional re-aggregate of the GROUP table (quasi-cardinality-
    bounded, far below row count) to per-source rollups — the fact
    scan is touched exactly once, no join anywhere."""
    groups = docs.select(
        "source",
        "lang",
        F.floor(F.col("n_chars") / 100).alias("len_bucket"),
    ).groupBy("source", "lang", "len_bucket").agg(
        F.count(F.lit(1)).alias("gc")
    )
    return groups.groupBy("source").agg(
        F.sum("gc").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(F.when(F.col("gc") < k, 1).otherwise(0))
        .cast("long").alias("n_small_groups"),
        F.sum(F.when(F.col("gc") < k, F.col("gc")).otherwise(0))
        .cast("long").alias("n_exposed_docs"),
    )


def pipe_k_anonymity(spark, sf_dir):
    """Gate: k=5 anonymity audit over (source, lang, length-bucket)."""
    return k_anonymity_audit(load_table(spark, "documents", sf_dir))


PIPELINE_QUERIES["pipe_k_anonymity"] = pipe_k_anonymity
PIPELINE_ORACLE["pipe_k_anonymity"] = (
    "WITH groups AS ("
    "  SELECT source, lang, CAST(FLOOR(n_chars / 100.0) AS BIGINT) "
    "    AS len_bucket, COUNT(*) AS gc "
    "  FROM documents GROUP BY 1, 2, 3) "
    "SELECT source, CAST(SUM(gc) AS BIGINT) AS n_docs, "
    "  COUNT(*) AS n_groups, "
    "  CAST(SUM(CASE WHEN gc < 5 THEN 1 ELSE 0 END) AS BIGINT) "
    "    AS n_small_groups, "
    "  CAST(SUM(CASE WHEN gc < 5 THEN gc ELSE 0 END) AS BIGINT) "
    "    AS n_exposed_docs "
    "FROM groups GROUP BY 1"
)


# --------------------------------------------------------------------------
# dataset card: the release-notes summary block, one scan
# --------------------------------------------------------------------------

def dataset_card(docs: DataFrame) -> DataFrame:
    """Dataset-card summary block — the numbers every dataset release
    note leads with, per source AND overall, from ONE scan via
    GROUPING SETS ((source), ()): document/char/token counts, distinct
    languages, and empty-doc count. The overall row carries source
    '__all__' — labeled via GROUPING(source), NOT by coalescing the
    grouping null, so a genuine NULL-source group (labeled '__null__')
    can never be confused with the grand total (review caught the
    COALESCE ambiguity; latent here since testdata has no NULL
    sources, but this is a general cover-sheet utility). Exact
    integers throughout; quality/dedup depth live in their own gates
    (pipe_quality_report, dedup_*) — this is the cover sheet.

    Scale shape: one map-combinable aggregate with a 2-set Expand
    (rollup(source) IS GROUPING SETS ((source), ())) — per-row cost
    ×2, zero joins, zero windows; distinct-language state is
    vocabulary-bounded per group."""
    base = docs.select(
        "source",
        "lang",
        F.length("text").alias("n_chars_doc"),
        n_tokens(F.col("text")).alias("n_toks_doc"),
        (F.length(F.trim(F.col("text"))) == 0).cast("long").alias("is_empty"),
    )
    return base.rollup("source").agg(
        F.grouping("source").alias("_is_total"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars_doc").cast("long").alias("n_chars"),
        F.sum("n_toks_doc").cast("long").alias("n_tokens"),
        F.count_distinct("lang").alias("n_langs"),
        F.sum("is_empty").cast("long").alias("n_empty"),
    ).select(
        F.when(F.col("_is_total") == 1, F.lit("__all__"))
        .otherwise(F.coalesce("source", F.lit("__null__")))
        .alias("source"),
        "n_docs", "n_chars", "n_tokens", "n_langs", "n_empty",
    )


def pipe_dataset_card(spark, sf_dir):
    """Gate: one-scan dataset-card rollup over documents."""
    return dataset_card(load_table(spark, "documents", sf_dir))


PIPELINE_QUERIES["pipe_dataset_card"] = pipe_dataset_card
PIPELINE_ORACLE["pipe_dataset_card"] = (
    "SELECT CASE WHEN GROUPING(source) = 1 THEN '__all__' "
    "  ELSE COALESCE(source, '__null__') END AS source, "
    "  COUNT(*) AS n_docs, "
    "  CAST(SUM(length(text)) AS BIGINT) AS n_chars, "
    "  CAST(SUM(len(list_filter(string_split_regex(lower(trim(text)), "
    "    '\\s+'), x -> x <> ''))) AS BIGINT) AS n_tokens, "
    "  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs, "
    "  CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 1 ELSE 0 END) "
    "    AS BIGINT) AS n_empty "
    "FROM documents GROUP BY GROUPING SETS ((source), ())"
)


def l_diversity_audit(docs: DataFrame, l_min: int = 2) -> DataFrame:
    """Per-source l-diversity audit — k-anonymity's sibling: a
    quasi-group can be large (k-anonymous) yet still leak its SENSITIVE
    attribute if every member shares one value. Here the quasi-group is
    (source, length-in-hundreds) and the sensitive attribute is
    ``lang``: per source, report the groups whose distinct-language
    count falls below ``l_min`` and the documents exposed in them,
    plus the worst (minimum) diversity seen.

    Scale shape: same contract as k_anonymity_audit — one count-
    distinct aggregate per quasi-group over a single fact scan, then a
    conditional re-aggregate of the group table (quasi-cardinality-
    bounded); distinct-language state is vocabulary-bounded per
    group; no join anywhere."""
    groups = docs.select(
        "source",
        F.floor(F.col("n_chars") / 100).alias("len_bucket"),
        "lang",
    ).groupBy("source", "len_bucket").agg(
        F.count(F.lit(1)).alias("gc"),
        F.count_distinct("lang").alias("dv"),
    )
    return groups.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("dv").cast("long").alias("min_diversity"),
        F.sum(F.when(F.col("dv") < l_min, 1).otherwise(0))
        .cast("long").alias("n_low_groups"),
        F.sum(F.when(F.col("dv") < l_min, F.col("gc")).otherwise(0))
        .cast("long").alias("n_exposed_docs"),
    )


def pipe_l_diversity(spark, sf_dir):
    """Gate: l=2 diversity audit, sensitive attribute lang."""
    return l_diversity_audit(load_table(spark, "documents", sf_dir))


PIPELINE_QUERIES["pipe_l_diversity"] = pipe_l_diversity
PIPELINE_ORACLE["pipe_l_diversity"] = (
    "WITH groups AS ("
    "  SELECT source, CAST(FLOOR(n_chars / 100.0) AS BIGINT) AS len_bucket, "
    "    COUNT(*) AS gc, COUNT(DISTINCT lang) AS dv "
    "  FROM documents GROUP BY 1, 2) "
    "SELECT source, "
    "  CAST(COUNT(*) AS BIGINT) AS n_groups, "
    "  CAST(MIN(dv) AS BIGINT) AS min_diversity, "
    "  CAST(SUM(CASE WHEN dv < 2 THEN 1 ELSE 0 END) AS BIGINT) "
    "    AS n_low_groups, "
    "  CAST(SUM(CASE WHEN dv < 2 THEN gc ELSE 0 END) AS BIGINT) "
    "    AS n_exposed_docs "
    "FROM groups GROUP BY 1"
)


# --------------------------------------------------------------------------
# per-source quality calibration (cross-source score comparability)
# --------------------------------------------------------------------------

def quality_calibration(docs: DataFrame) -> DataFrame:
    """Per-source quality-score calibration — the step before any
    cross-source mixing: raw quality scores are NOT comparable across
    sources (a boilerplate-heavy source's 0.6 may be its best content),
    so each document is re-expressed as its rank decile WITHIN its
    source. Decile = ((rank-1)·10) div n — pure integer arithmetic on
    the per-source row_number (ties broken by doc_id, making the rank,
    and hence every downstream number, fully deterministic); no float
    percent_rank boundary can flip a bucket. The output profiles each
    (source, decile) cell with its count and exact score range —
    min/max are single already-truncated doubles, never a float SUM.

    Scale shape: one shuffle on source for the two stacked windows
    (row_number + count share the partition), one map-combinable
    rollup. Per-source windows are as wide as the largest source —
    at open-web scale swap row_number for q108's two-phase order
    statistics on the same (score, doc_id) key; the decile arithmetic
    is unchanged."""
    from .textstats import quality_score

    w = Window.partitionBy("source").orderBy(
        F.col("quality_score").desc(), F.col("doc_id")
    )
    wn = Window.partitionBy("source")
    scored = docs.select(
        "doc_id", "source", quality_score(F.col("text")).alias("quality_score")
    )
    ranked = scored.select(
        "source", "quality_score",
        ((F.row_number().over(w) - 1) * 10).alias("r10"),
        F.count(F.lit(1)).over(wn).alias("n"),
    ).select(
        "source", "quality_score",
        (F.col("r10") / F.col("n")).cast("long").alias("decile"),
    )
    return ranked.groupBy("source", "decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("quality_score").alias("min_score"),
        F.max("quality_score").alias("max_score"),
    )


def pipe_quality_calibration(spark, sf_dir):
    """Gate: per-(source, decile) calibrated quality profile."""
    return quality_calibration(load_table(spark, "documents", sf_dir))


PIPELINE_QUERIES["pipe_quality_calibration"] = pipe_quality_calibration
PIPELINE_ORACLE["pipe_quality_calibration"] = (
    "WITH scored AS ({qsub}), "
    "src AS (SELECT doc_id, source FROM documents), "
    "ranked AS ("
    "  SELECT src.source, scored.quality_score, "
    "    (ROW_NUMBER() OVER (PARTITION BY src.source "
    "       ORDER BY scored.quality_score DESC, scored.doc_id) - 1) * 10 "
    "      AS r10, "
    "    COUNT(*) OVER (PARTITION BY src.source) AS n "
    "  FROM scored JOIN src ON scored.doc_id = src.doc_id) "
    "SELECT source, CAST(r10 // n AS BIGINT) AS decile, "
    "  CAST(COUNT(*) AS BIGINT) AS n_docs, "
    "  MIN(quality_score) AS min_score, "
    "  MAX(quality_score) AS max_score "
    "FROM ranked GROUP BY 1, 2"
).format(qsub=_QUALITY_SCORE_SUBQUERY)


# --------------------------------------------------------------------------
# shard manifest (verifiable data delivery)
# --------------------------------------------------------------------------

SHARD_COUNT = 16


def shard_manifest(docs: DataFrame, shards: int = SHARD_COUNT) -> DataFrame:
    """Shard manifest — the verifiable-delivery artifact a corpus hand-
    off ships next to the data: deterministic shard assignment (md5 of
    doc_id, the pipe_shuffle_shards dealing rule) plus per-shard counts,
    byte totals, and an ORDER-INDEPENDENT content checksum (sum of each
    doc's md5-prefix int64 mod 2^61-1 — the ref_table_fingerprint lane
    construction). The receiving side recomputes the manifest after
    copy; equality proves per-shard completeness AND content integrity
    without comparing a single row.

    Scale shape: one map-side hash pass, one shuffle to shards (the
    output is shards-bounded), every aggregate map-combinable."""
    m = F.lit((1 << 61) - 1)
    lane = F.pmod(
        F.conv(F.substring(F.md5(F.col("text")), 1, 15), 16, 10).cast("long"),
        m,
    )
    return (
        docs.select(
            F.pmod(
                F.conv(
                    F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
                    16, 10,
                ).cast("long"),
                F.lit(shards),
            ).alias("shard"),
            F.length("text").alias("n_chars"),
            # DECIMAL(38,0) accumulator (the table_fingerprint rule):
            # int64 residues < 2^61 overflow a LONG sum past ~4 rows'
            # worth of headroom; decimal sums stay exact at any count
            lane.cast("decimal(38,0)").alias("lane"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.pmod(F.sum("lane"), m.cast("decimal(38,0)"))
            .cast("long").alias("content_sum"),
        )
    )


def pipe_shard_manifest(spark, sf_dir):
    """Gate: per-shard manifest (count, bytes, order-free checksum)."""
    return shard_manifest(load_table(spark, "documents", sf_dir))


PIPELINE_QUERIES["pipe_shard_manifest"] = pipe_shard_manifest
PIPELINE_ORACLE["pipe_shard_manifest"] = (
    "WITH lanes AS ("
    "  SELECT CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) "
    "    AS BIGINT) % {sh} AS BIGINT) AS shard, "
    "    length(text) AS n_chars, "
    "    CAST(CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) "
    "      % 2305843009213693951 AS BIGINT) AS lane "
    "  FROM documents) "
    "SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs, "
    "  CAST(SUM(n_chars) AS BIGINT) AS n_chars, "
    "  CAST(SUM(lane) % 2305843009213693951 AS BIGINT) AS content_sum "
    "FROM lanes GROUP BY 1"
).format(sh=SHARD_COUNT)


# --------------------------------------------------------------------------
# curriculum ordering (easy-first, source-interleaved training schedule)
# --------------------------------------------------------------------------

def curriculum_order(
    docs: DataFrame, head: int = 500
) -> DataFrame:
    """Deterministic curriculum schedule: order the corpus easy-first
    (shorter documents first — the standard length-as-difficulty proxy)
    while ROUND-ROBIN interleaving sources, so no leading stretch of
    the schedule is single-source (curriculum learning's data-order
    half, and the mixing constraint every multi-source pretraining run
    imposes on it). Position within a source = ascending (n_chars,
    doc_id) rank; the global order is (position, source) — after one
    document from every source at position 1, every source at position
    2, and so on. Emits the first ``head`` schedule rows.

    Exactness: pure integer rank arithmetic, deterministic tie-breaks
    everywhere (doc_id inside a source, source name across lanes).

    Scale shape: ONE rank window partitioned by source (scales with
    sources × their sizes, the per-source sort a training-data shuffle
    pays anyway), then the bounded head rides a TakeOrderedAndProject
    partial top-k — no global sort materializes. At 100 TB emit shard
    files in (position, source) ranges instead of a head."""
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "doc_id", "source", "n_chars",
        F.row_number().over(w).alias("position"),
    )
    w_g = Window.orderBy("position", "source")
    return (
        ranked.orderBy("position", "source")
        .limit(head)
        .select(
            F.row_number().over(w_g).alias("global_rank"),
            "doc_id", "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.col("position").cast("long").alias("position"),
        )
    )


def pipe_curriculum_order(spark, sf_dir):
    """Gate: first 500 rows of the easy-first source-interleaved
    curriculum schedule."""
    return curriculum_order(load_table(spark, "documents", sf_dir))


PIPELINE_QUERIES["pipe_curriculum_order"] = pipe_curriculum_order
PIPELINE_ORACLE["pipe_curriculum_order"] = (
    "WITH ranked AS ("
    "  SELECT doc_id, source, n_chars, "
    "    ROW_NUMBER() OVER (PARTITION BY source "
    "      ORDER BY n_chars, doc_id) AS position "
    "  FROM documents), "
    "head AS ("
    "  SELECT * FROM ranked ORDER BY position, source LIMIT 500) "
    "SELECT ROW_NUMBER() OVER (ORDER BY position, source) AS global_rank, "
    "  doc_id, source, CAST(n_chars AS BIGINT) AS n_chars, "
    "  CAST(position AS BIGINT) AS position "
    "FROM head"
)


# --------------------------------------------------------------------------
# per-source duplication-rate report (corpus health dashboard)
# --------------------------------------------------------------------------

def source_dup_rate(docs: DataFrame) -> DataFrame:
    """Per-source duplication profile — the corpus-health readout a
    dedup pipeline publishes BEFORE anyone trains on the data: for each
    source, total docs, distinct texts WITHIN the source, docs that are
    members of corpus-WIDE exact-dup groups (the cross-source leakage a
    within-source distinct misses), and the dup share in e6. A source
    whose dup_share spikes is re-crawling itself or mirroring another
    source — both visible here without any pairwise machinery.

    Scale shape: hashes once (sha2 map-side), one corpus-wide hash
    count aggregate, one hash-keyed join back (both sides shuffle on
    the hash — co-partitioned), one per-source conditional aggregate.
    All map-combinable; no pair join anywhere."""
    h = docs.select(
        "source", F.sha2(F.col("text").cast("binary"), 256).alias("h")
    )
    corpus = h.groupBy("h").agg(F.count(F.lit(1)).alias("n_h"))
    return (
        h.join(corpus, "h")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("h").alias("n_distinct_texts"),
            F.sum(F.when(F.col("n_h") > 1, 1).otherwise(0)).alias("n_dup"),
        )
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_distinct_texts").cast("long").alias("n_distinct_texts"),
            F.col("n_dup").cast("long").alias("n_dup_docs"),
            # double-first product (q160 overflow posture): 1e6·n_dup as
            # a long product leaves int64 near 9e12 docs
            F.floor(
                F.lit(1_000_000.0) * F.col("n_dup") / F.col("n_docs")
            ).cast("long").alias("dup_share_e6"),
        )
    )


def pipe_source_dup_rate(spark, sf_dir):
    """Gate: per-source corpus-wide exact-dup rate report."""
    return source_dup_rate(load_table(spark, "documents", sf_dir))


PIPELINE_QUERIES["pipe_source_dup_rate"] = pipe_source_dup_rate
PIPELINE_ORACLE["pipe_source_dup_rate"] = (
    "WITH h AS (SELECT source, sha256(text) AS h FROM documents), "
    "corpus AS (SELECT h, COUNT(*) AS n_h FROM h GROUP BY 1) "
    "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
    "  CAST(COUNT(DISTINCT h.h) AS BIGINT) AS n_distinct_texts, "
    "  CAST(SUM(CASE WHEN n_h > 1 THEN 1 ELSE 0 END) AS BIGINT) "
    "    AS n_dup_docs, "
    "  CAST(FLOOR(1000000 * SUM(CASE WHEN n_h > 1 THEN 1 ELSE 0 END) "
    "    / COUNT(*)) AS BIGINT) AS dup_share_e6 "
    "FROM h JOIN corpus USING (h) GROUP BY source"
)


# --------------------------------------------------------------------------
# differentially-private count release (deterministic-noise demo)
# --------------------------------------------------------------------------

#: DP release parameters: epsilon in micro units (1.0), Laplace scale
#: b = sensitivity/epsilon = 1.0 for a unit-sensitivity count.
DP_EPS_E6 = 1_000_000
DP_SEED = "dp-release-1"


def dp_counts(
    docs: DataFrame, group_col: str = "source", seed: str = DP_SEED
) -> DataFrame:
    """Per-group count release under the Laplace mechanism — the
    privacy layer a data pipeline applies before publishing corpus
    statistics (the k-anonymity/l-diversity siblings suppress rows;
    this PERTURBS aggregates): released = count + Laplace(1/ε) noise.

    The noise here is DETERMINISTIC by construction — the uniform draw
    comes from the md5 hash of (seed, group): u = (h32 + 0.5) / 2^32 ∈
    (0,1), Laplace via inverse CDF −b·sign(u−½)·ln(1−2|u−½|). That is
    exactly how a reproducible DP release pins its noise to a recorded
    seed (and what makes an exact cross-engine oracle possible); swap
    the hash for a CSPRNG draw per release in production. The true
    count appears ONLY inside the expression — the gate emits the
    released value and the ε, like a real publication would.

    Scale shape: one map-combinable count per group + one md5 per
    GROUP (not per row) — free at any corpus size."""
    h32 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(seed + ":"), F.col(group_col))), 1, 8
        ),
        16, 10,
    ).cast("long")
    u = (h32.cast("double") + F.lit(0.5)) / F.lit(4294967296.0)
    b = F.lit(1_000_000.0) / F.lit(float(DP_EPS_E6))  # sensitivity/eps
    lap = (
        -b
        * F.signum(u - F.lit(0.5))
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u - F.lit(0.5)))
    )
    return (
        docs.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            group_col,
            (F.col("n") + F.floor(lap + F.lit(0.5))).cast("long")
            .alias("released_count"),
            F.lit(DP_EPS_E6).cast("long").alias("eps_e6"),
        )
    )


def pipe_dp_counts(spark, sf_dir):
    """Gate: Laplace-released per-source doc counts at ε = 1."""
    return dp_counts(load_table(spark, "documents", sf_dir))


PIPELINE_QUERIES["pipe_dp_counts"] = pipe_dp_counts
PIPELINE_ORACLE["pipe_dp_counts"] = (
    "WITH g AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1), "
    "noise AS ("
    "  SELECT source, n, "
    f"    (('0x' || substr(md5('{DP_SEED}:' || source), 1, 8))::BIGINT "
    "      + 0.5) / 4294967296.0 AS u "
    "  FROM g) "
    "SELECT source, "
    "  CAST(n + FLOOR("
    f"    -({1_000_000.0 / DP_EPS_E6}) * SIGN(u - 0.5) "
    "      * LN(1.0 - 2.0 * ABS(u - 0.5)) + 0.5) AS BIGINT) "
    "    AS released_count, "
    f"  CAST({DP_EPS_E6} AS BIGINT) AS eps_e6 "
    "FROM noise"
)


# --------------------------------------------------------------------------
# deterministic multi-epoch shuffle schedule
# --------------------------------------------------------------------------

EPOCHS = 3
SCHEDULE_HEAD = 5
EPOCH_SEED = "epoch-shuffle-1"


def epoch_schedule(
    docs: DataFrame,
    epochs: int = EPOCHS,
    head: int = SCHEDULE_HEAD,
    seed: str = EPOCH_SEED,
) -> DataFrame:
    """Reproducible multi-epoch training order — every serious training
    run needs a shuffle that is (a) different each epoch, (b) exactly
    replayable from a recorded seed, and (c) computable WITHOUT a
    global materialized permutation: position of doc d in epoch e is
    its rank under hash(seed, e, d). Any worker can answer "what are
    my shard's positions?" locally; resuming mid-epoch is a filter, not
    a replay. Emits the first ``head`` scheduled docs per epoch (the
    auditable prefix a run manifest records).

    Scale shape: one md5 per (epoch, doc) — the epoch explode is a
    constant fan-out — and a per-epoch top-k window (partial top-k
    merge, no global sort of the corpus)."""
    from pyspark.sql import Window

    e = docs.select("doc_id").crossJoin(
        F.broadcast(
            SparkSession.getActiveSession()
            .range(epochs)
            .select(F.col("id").cast("long").alias("epoch"))
        )
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":", F.lit(seed), F.col("epoch"), F.col("doc_id")
                )
            ),
            1, 8,
        ),
        16, 10,
    ).cast("long")
    w = Window.partitionBy("epoch").orderBy("h", "doc_id")
    return (
        e.select("epoch", "doc_id", h.alias("h"))
        .withColumn("position", F.row_number().over(w).cast("long"))
        .where(F.col("position") <= head)
        .select("epoch", "position", "doc_id")
    )


def pipe_epoch_schedule(spark, sf_dir):
    """Gate: first 5 scheduled docs of each of 3 epochs."""
    return epoch_schedule(load_table(spark, "documents", sf_dir))


PIPELINE_QUERIES["pipe_epoch_schedule"] = pipe_epoch_schedule
PIPELINE_ORACLE["pipe_epoch_schedule"] = (
    "WITH e AS ("
    "  SELECT doc_id, epoch FROM documents, "
    f"  UNNEST(range({EPOCHS})) u(epoch)), "
    "h AS ("
    "  SELECT epoch, doc_id, "
    f"    ('0x' || substr(md5('{EPOCH_SEED}' || ':' || epoch || ':' "
    "      || doc_id), 1, 8))::BIGINT AS h "
    "  FROM e) "
    "SELECT CAST(epoch AS BIGINT) AS epoch, "
    "  CAST(ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY h, doc_id) "
    "    AS BIGINT) AS position, doc_id "
    f"FROM h QUALIFY position <= {SCHEDULE_HEAD}"
)


# --------------------------------------------------------------------------
# duplicate-cluster quota (cap exact-dup cluster sizes)
# --------------------------------------------------------------------------

#: how many copies of each opening-prefix cluster survive the quota
#: sweep, and how many leading tokens define the cluster key. Quota 1
#: on the 8-token opening catches template-headed documents (same
#: boilerplate opening, divergent tails) — the fixture has NO byte-
#: exact duplicates at any sf (an exact-text key made every cluster a
#: singleton and the gate degenerate — the round-7 audit lesson), but
#: ~5 % of docs share an opening prefix at every sf.
DUP_QUOTA = 1
DUP_PREFIX_TOKENS = 8


def dedup_quota(
    docs: DataFrame,
    quota: int = DUP_QUOTA,
    prefix_tokens: int = DUP_PREFIX_TOKENS,
) -> DataFrame:
    """Cap every opening-prefix duplicate cluster at ``quota`` surviving
    copies and report the per-source toll — the keep-SOME policy
    between "drop all duplicates" (dedup_exact) and "keep everything"
    (pipe_source_dup_rate measures but does not act): large-scale
    corpus work bounds how often the same template opening appears so
    a mirror site or boilerplate-headed crawl cannot dominate training
    (the up-weight-by-duplication recipe, bounded). The cluster key is
    the md5 of the first ``prefix_tokens`` normalized tokens — the
    cheap leading-span fingerprint that groups "same opening,
    divergent tail" families byte-exact text misses.

    Survivors are the ``quota`` lowest doc_ids per cluster
    (deterministic, rerun-stable); the readout aggregates kept/dropped
    per source so the gate output stays dimension-sized.

    Scale shape: one md5 per row map-side, ONE shuffle on the hash for
    the rank window (each cluster is one partition-key group, never a
    global window), one map-combinable rollup to |sources| rows. The
    text column itself never shuffles — only the 32-char digest."""
    from pyspark.sql import Window

    h = F.md5(
        F.concat_ws(
            " ",
            F.slice(tokens("text", drop_empty=True), 1, prefix_tokens),
        )
    )
    w = Window.partitionBy("h").orderBy("doc_id")
    ranked = docs.select(
        "doc_id", "source", h.alias("h")
    ).withColumn("rk", F.row_number().over(w))
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("rk") <= quota, 1).otherwise(0))
            .cast("long").alias("n_kept"),
            F.sum(F.when(F.col("rk") > quota, 1).otherwise(0))
            .cast("long").alias("n_dropped"),
        )
    )


def pipe_dedup_quota(spark, sf_dir):
    """Gate: per-source kept/dropped counts under a 1-copy quota on
    8-token opening-prefix clusters."""
    return dedup_quota(load_table(spark, "documents", sf_dir))


PIPELINE_QUERIES["pipe_dedup_quota"] = pipe_dedup_quota
PIPELINE_ORACLE["pipe_dedup_quota"] = (
    "WITH ranked AS ("
    "  SELECT doc_id, source, "
    "    ROW_NUMBER() OVER (PARTITION BY md5(array_to_string("
    "      list_filter(string_split_regex(lower(trim(text)), '\\s+'), "
    f"      x -> x <> '')[1:{DUP_PREFIX_TOKENS}], ' ')) "
    "      ORDER BY doc_id) AS rk "
    "  FROM documents) "
    "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
    f"  CAST(SUM(CASE WHEN rk <= {DUP_QUOTA} THEN 1 ELSE 0 END) AS BIGINT) "
    "    AS n_kept, "
    f"  CAST(SUM(CASE WHEN rk > {DUP_QUOTA} THEN 1 ELSE 0 END) AS BIGINT) "
    "    AS n_dropped "
    "FROM ranked GROUP BY source"
)


# --------------------------------------------------------------------------
# chronological train/test split with embargo (leakage-safe)
# --------------------------------------------------------------------------

#: time-split knobs: cutoff at 80 % of the observed span, 24 h embargo.
TIME_SPLIT_FRAC_E2 = 80
TIME_EMBARGO_S = 86_400


def time_split(events: DataFrame) -> DataFrame:
    """Chronological train/embargo/test split over an interaction log —
    the leakage-safe alternative to hash splitting for anything with
    temporal structure (forecasting, recommenders, churn): hash splits
    leak the future into training; the time split cuts at a single
    instant and DROPS an embargo buffer after the cutoff so that
    rows whose features/labels straddle the boundary (sessions,
    attribution windows, rolling aggregates) cannot leak either
    direction — the purged/embargoed split from financial ML, applied
    to an event log.

    Cutoff = min + 80 % of the observed span (exact integer second
    arithmetic on the epoch, floor-div); embargo = [cutoff, cutoff +
    24 h). Emits per event_type: counts per split plus the boundary
    epochs, so a training manifest can record the exact cut.

    Scale shape: one 1-row min/max aggregate, then a single
    map-combinable conditional aggregate over the scan — the
    split decision is a pure comparison against two broadcast
    scalars."""
    s = F.expr(
        "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    e = events.select("event_type", s.alias("s"))
    span = e.agg(F.min("s").alias("lo"), F.max("s").alias("hi"))
    cut = (
        F.col("lo")
        + F.expr(f"((hi - lo) * {TIME_SPLIT_FRAC_E2}) div 100")
    )
    flagged = e.crossJoin(F.broadcast(span)).select(
        "event_type", "s",
        cut.alias("cut_s"),
        (cut + TIME_EMBARGO_S).alias("test_from_s"),
    )
    return flagged.groupBy("event_type").agg(
        F.max("cut_s").cast("long").alias("cut_s"),
        F.max("test_from_s").cast("long").alias("test_from_s"),
        F.sum(F.when(F.col("s") < F.col("cut_s"), 1).otherwise(0))
        .cast("long").alias("n_train"),
        F.sum(
            F.when(
                (F.col("s") >= F.col("cut_s"))
                & (F.col("s") < F.col("test_from_s")),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_embargo_dropped"),
        F.sum(F.when(F.col("s") >= F.col("test_from_s"), 1).otherwise(0))
        .cast("long").alias("n_test"),
    )


def pipe_time_split(spark, sf_dir):
    """Gate: 80 %-cutoff chronological split with a 24 h embargo over
    the events log, per event type."""
    return time_split(load_table(spark, "events", sf_dir))


PIPELINE_QUERIES["pipe_time_split"] = pipe_time_split
PIPELINE_ORACLE["pipe_time_split"] = (
    "WITH e AS ("
    "  SELECT event_type, epoch_us(ts) // 1000000 AS s FROM events), "
    "span AS (SELECT MIN(s) AS lo, MAX(s) AS hi FROM e), "
    "flagged AS ("
    "  SELECT event_type, s, "
    f"    lo + ((hi - lo) * {TIME_SPLIT_FRAC_E2}) // 100 AS cut_s "
    "  FROM e, span) "
    "SELECT event_type, CAST(MAX(cut_s) AS BIGINT) AS cut_s, "
    f"  CAST(MAX(cut_s) + {TIME_EMBARGO_S} AS BIGINT) AS test_from_s, "
    "  CAST(SUM(CASE WHEN s < cut_s THEN 1 ELSE 0 END) AS BIGINT) "
    "    AS n_train, "
    "  CAST(SUM(CASE WHEN s >= cut_s AND s < cut_s + "
    f"    {TIME_EMBARGO_S} THEN 1 ELSE 0 END) AS BIGINT) "
    "    AS n_embargo_dropped, "
    f"  CAST(SUM(CASE WHEN s >= cut_s + {TIME_EMBARGO_S} "
    "    THEN 1 ELSE 0 END) AS BIGINT) AS n_test "
    "FROM flagged GROUP BY event_type"
)


# --------------------------------------------------------------------------
# Gopher-style quality rules (round 11)
# --------------------------------------------------------------------------

#: Gopher rule thresholds (Rae et al. 2021 "Scaling Language Models",
#: table A1, adapted to this corpus's scale: the published bounds are
#: 50..100k words for web pages; this fixture's documents are short
#: synthetic passages, so the word-count bracket shrinks while every
#: RATIO rule keeps its published constant). All rules evaluate in
#: exact cross-multiplied integers — no float thresholds.
GOPHER_MIN_WORDS = 5
GOPHER_MAX_WORDS = 1_000
GOPHER_MEAN_LEN_MIN = 3   # 3 <= mean word chars <= 10
GOPHER_MEAN_LEN_MAX = 10
GOPHER_ALPHA_NUM = 4      # >= 80 % of words contain a letter (4/5)
GOPHER_ALPHA_DEN = 5
GOPHER_MIN_STOP_HITS = 2  # >= 2 stopword occurrences
GOPHER_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")


def gopher_rules(docs: DataFrame) -> DataFrame:
    """Per-source Gopher-rule quality audit: how many documents pass
    the composite filter, and which rule each failure trips — the
    repair-priority readout a corpus curator reads before rerunning a
    crawl. Four rules, all expression-level over ONE tokens pass
    (map-only; whole-stage codegen; no UDF):

    - word count in [GOPHER_MIN_WORDS, GOPHER_MAX_WORDS]
    - mean word length in [3, 10] chars, exact:
      3·n ≤ Σlen ≤ 10·n (cross-multiplied, no division)
    - ≥ 80 % of words contain a letter: 5·n_alpha ≥ 4·n
    - ≥ 2 stopword occurrences

    Output: per source, n_docs / n_pass plus per-rule failure counts
    (a doc can fail several rules; counts are per rule, not
    partitioned). Exact BIGINTs only."""
    t = tokens("text", drop_empty=True)
    n = F.size(t)
    sumlen = F.aggregate(
        t, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    n_alpha = F.size(F.filter(t, lambda w: w.rlike("[a-z]")))
    stops = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    n_stop = F.size(F.filter(t, lambda w: F.array_contains(stops, w)))
    flags = docs.select(
        "source",
        (
            (n < GOPHER_MIN_WORDS) | (n > GOPHER_MAX_WORDS)
        ).alias("f_wc"),
        (
            (sumlen < GOPHER_MEAN_LEN_MIN * n)
            | (sumlen > GOPHER_MEAN_LEN_MAX * n)
        ).alias("f_mwl"),
        (GOPHER_ALPHA_DEN * n_alpha < GOPHER_ALPHA_NUM * n).alias("f_alpha"),
        (n_stop < GOPHER_MIN_STOP_HITS).alias("f_stop"),
    )
    cnt = lambda c: F.sum(F.when(F.col(c), 1).otherwise(0)).cast("long")  # noqa: E731
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.when(
                ~F.col("f_wc") & ~F.col("f_mwl")
                & ~F.col("f_alpha") & ~F.col("f_stop"),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_pass"),
        cnt("f_wc").alias("fail_word_count"),
        cnt("f_mwl").alias("fail_mean_word_len"),
        cnt("f_alpha").alias("fail_alpha_ratio"),
        cnt("f_stop").alias("fail_stopwords"),
    )


def pipe_gopher_rules(spark, sf_dir):
    """Gate: per-source Gopher quality-rule audit."""
    return gopher_rules(load_table(spark, "documents", sf_dir))


_GOPHER_STOP_SQL = "[" + ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS) + "]"

PIPELINE_QUERIES["pipe_gopher_rules"] = pipe_gopher_rules
PIPELINE_ORACLE["pipe_gopher_rules"] = (
    "WITH f AS ("
    "  SELECT source, "
    "    list_filter(string_split_regex(lower(trim(text)), '\\s+'), "
    "      x -> x <> '') AS t "
    "  FROM documents), "
    "m AS ("
    "  SELECT source, len(t) AS n, "
    "    COALESCE(list_sum(list_transform(t, x -> length(x))), 0) AS sumlen, "
    "    len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) AS n_alpha, "
    f"    len(list_filter(t, x -> list_contains({_GOPHER_STOP_SQL}, x))) "
    "      AS n_stop "
    "  FROM f), "
    "flags AS ("
    "  SELECT source, "
    f"    (n < {GOPHER_MIN_WORDS} OR n > {GOPHER_MAX_WORDS}) AS f_wc, "
    f"    (sumlen < {GOPHER_MEAN_LEN_MIN} * n "
    f"     OR sumlen > {GOPHER_MEAN_LEN_MAX} * n) AS f_mwl, "
    f"    ({GOPHER_ALPHA_DEN} * n_alpha < {GOPHER_ALPHA_NUM} * n) AS f_alpha, "
    f"    (n_stop < {GOPHER_MIN_STOP_HITS}) AS f_stop "
    "  FROM m) "
    "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
    "  CAST(SUM(CASE WHEN NOT f_wc AND NOT f_mwl AND NOT f_alpha "
    "    AND NOT f_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_pass, "
    "  CAST(SUM(CASE WHEN f_wc THEN 1 ELSE 0 END) AS BIGINT) "
    "    AS fail_word_count, "
    "  CAST(SUM(CASE WHEN f_mwl THEN 1 ELSE 0 END) AS BIGINT) "
    "    AS fail_mean_word_len, "
    "  CAST(SUM(CASE WHEN f_alpha THEN 1 ELSE 0 END) AS BIGINT) "
    "    AS fail_alpha_ratio, "
    "  CAST(SUM(CASE WHEN f_stop THEN 1 ELSE 0 END) AS BIGINT) "
    "    AS fail_stopwords "
    "FROM flags GROUP BY source"
)


# --------------------------------------------------------------------------
# k-fold cross-validation assignment (round 11)
# --------------------------------------------------------------------------

KFOLD_K = 5
KFOLD_SEED = "kfold_r11"


def kfold_assign(docs: DataFrame, k: int = KFOLD_K) -> DataFrame:
    """Deterministic k-fold assignment + leave-one-fold-out readout:
    fold = md5-bucket(seed:doc_id) — the same engine-portable
    hash_bucket every split/sample gate rides, so folds are stable
    across engines, runs, AND cluster sizes (no rand(), no
    zipWithIndex). Output per fold: member count, token mass, and the
    train-side size when that fold is held out (total − fold, via a
    window over the K-row fold table — never a second corpus scan)."""
    t = tokens("text", drop_empty=True)
    per_fold = (
        docs.select(
            hash_bucket(
                F.concat(F.lit(KFOLD_SEED + ":"), F.col("doc_id")), k
            ).alias("fold"),
            F.size(t).cast("long").alias("n_toks"),
        )
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
        )
    )
    w = Window.partitionBy()
    return per_fold.select(
        "fold", "n_docs", "n_tokens",
        (F.sum("n_docs").over(w) - F.col("n_docs"))
        .cast("long")
        .alias("train_docs"),
        (F.sum("n_tokens").over(w) - F.col("n_tokens"))
        .cast("long")
        .alias("train_tokens"),
    )


def pipe_kfold_assign(spark, sf_dir):
    """Gate: deterministic 5-fold assignment with leave-one-out sizes."""
    return kfold_assign(load_table(spark, "documents", sf_dir))


PIPELINE_QUERIES["pipe_kfold_assign"] = pipe_kfold_assign
PIPELINE_ORACLE["pipe_kfold_assign"] = (
    "WITH f AS ("
    "  SELECT ('0x' || substr(md5("
    f"    '{KFOLD_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT "
    f"    % {KFOLD_K} AS fold, "
    "    CAST(len(list_filter(string_split_regex(lower(trim(text)), "
    "      '\\s+'), x -> x <> '')) AS BIGINT) AS n_toks "
    "  FROM documents), "
    "per_fold AS ("
    "  SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_docs, "
    "    CAST(SUM(n_toks) AS BIGINT) AS n_tokens "
    "  FROM f GROUP BY fold) "
    "SELECT fold, n_docs, n_tokens, "
    "  CAST(SUM(n_docs) OVER () - n_docs AS BIGINT) AS train_docs, "
    "  CAST(SUM(n_tokens) OVER () - n_tokens AS BIGINT) AS train_tokens "
    "FROM per_fold"
)


# --------------------------------------------------------------------------
# DP sum release with clipping (round 11)
# --------------------------------------------------------------------------

#: clipped-sum release parameters: per-document contribution clipped at
#: DP_SUM_CLIP tokens (the clipping that BOUNDS sensitivity — without
#: it a single long document could shift the sum arbitrarily and no
#: finite noise scale gives ε-DP), Laplace scale b = CLIP/ε.
#: 64, not a round 100: the fixture's longest document is 99 tokens at
#: every sf, so a 100-token clip would never bind and the rule would be
#: vacuous (the text_dup_ngrams degeneracy lesson, caught by the
#: clip-binds test before any driver row)
DP_SUM_CLIP = 64
DP_SUM_SEED = "dp-sum-release-1"


def dp_sums(
    docs: DataFrame, group_col: str = "source", seed: str = DP_SUM_SEED
) -> DataFrame:
    """Per-group CLIPPED token-sum release under the Laplace mechanism —
    the numeric-aggregate companion to dp_counts (counts have unit
    sensitivity for free; sums must BUY bounded sensitivity by clipping
    each document's contribution at C, then noise scales as C/ε). The
    noise draw is the same seeded md5 inverse-CDF as dp_counts — one
    digest per GROUP — so the release is reproducible and exactly
    oracle-able; swap in a CSPRNG per production release. The release
    floors log-based noise at +0.5, and F.log vs DuckDB LN are both
    libm (not correctly rounded): portability therefore REQUIRES every
    per-group noise value to sit away from a floor boundary, which
    tests/test_round11_ops.py::test_dp_sum_noise_exact_and_bounded
    asserts at fixture time (>1e-6 from any integer; reseed
    DP_SUM_SEED if a fixture change ever trips it).

    Scale shape: clip is a map-side least(); one combinable sum per
    group; one md5 per group."""
    t = tokens("text", drop_empty=True)
    clipped = F.least(
        F.size(t).cast("long"), F.lit(DP_SUM_CLIP).cast("long")
    )
    h32 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(seed + ":"), F.col(group_col))), 1, 8
        ),
        16, 10,
    ).cast("long")
    u = (h32.cast("double") + F.lit(0.5)) / F.lit(4294967296.0)
    b = F.lit(float(DP_SUM_CLIP)) * F.lit(1_000_000.0) / F.lit(
        float(DP_EPS_E6)
    )
    lap = (
        -b
        * F.signum(u - F.lit(0.5))
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u - F.lit(0.5)))
    )
    return (
        docs.select(group_col, clipped.alias("c"))
        .groupBy(group_col)
        .agg(F.sum("c").cast("long").alias("s"))
        .select(
            group_col,
            (F.col("s") + F.floor(lap + F.lit(0.5))).cast("long")
            .alias("released_token_sum"),
            F.lit(DP_SUM_CLIP).cast("long").alias("clip_c"),
            F.lit(DP_EPS_E6).cast("long").alias("eps_e6"),
        )
    )


def pipe_dp_sum(spark, sf_dir):
    """Gate: Laplace-released clipped per-source token sums at ε = 1."""
    return dp_sums(load_table(spark, "documents", sf_dir))


PIPELINE_QUERIES["pipe_dp_sum"] = pipe_dp_sum
PIPELINE_ORACLE["pipe_dp_sum"] = (
    "WITH c AS ("
    "  SELECT source, LEAST(CAST(len(list_filter(string_split_regex("
    "    lower(trim(text)), '\\s+'), x -> x <> '')) AS BIGINT), "
    f"    {DP_SUM_CLIP}) AS c "
    "  FROM documents), "
    "g AS (SELECT source, CAST(SUM(c) AS BIGINT) AS s FROM c GROUP BY 1), "
    "n AS ("
    "  SELECT source, s, "
    f"    (('0x' || substr(md5('{DP_SUM_SEED}:' || source), 1, 8))::BIGINT "
    "      + 0.5) / 4294967296.0 AS u "
    "  FROM g) "
    "SELECT source, "
    f"  CAST(s + FLOOR(-{DP_SUM_CLIP}.0 * 1000000.0 / {DP_EPS_E6} "
    "    * SIGN(u - 0.5) * LN(1.0 - 2.0 * ABS(u - 0.5)) + 0.5) AS BIGINT) "
    "    AS released_token_sum, "
    f"  CAST({DP_SUM_CLIP} AS BIGINT) AS clip_c, "
    f"  CAST({DP_EPS_E6} AS BIGINT) AS eps_e6 "
    "FROM n"
)


# --------------------------------------------------------------------------
# sequence-packing efficiency readout (round 11)
# --------------------------------------------------------------------------

def pack_efficiency(docs: DataFrame) -> DataFrame:
    """Per-source context-window fill efficiency of the standard
    chunk→pack layout — the utilization readout that decides whether a
    packing strategy wastes paid-for FLOPs (padding share of the
    context budget is dead compute at training time). Reuses THE
    chunk_documents → pack_sequences pipeline (same constants), rolls
    packs up per source: capacity = n_packs·budget,
    fill_e6 = ⌊1e6·tokens/capacity⌋ exact.

    Scale shape: the pack window is per-doc (parallel); the rollups
    are map-combinable aggregates."""
    chunks = chunk_documents(docs)
    packs = (
        pack_sequences(chunks)
        .groupBy("doc_id", "pack_id")
        .agg(F.sum("n_chunk_tokens").cast("long").alias("pack_toks"))
    )
    src = docs.select("doc_id", "source")
    g = (
        packs.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_packs"),
            F.sum("pack_toks").cast("long").alias("total_tokens"),
        )
    )
    return g.select(
        "source", "n_packs", "total_tokens",
        (F.col("n_packs") * PACK_BUDGET).cast("long").alias("capacity"),
        F.expr(f"(1000000 * total_tokens) div (n_packs * {PACK_BUDGET})")
        .cast("long")
        .alias("fill_e6"),
    )


def pipe_pack_efficiency(spark, sf_dir):
    """Gate: per-source sequence-packing fill efficiency."""
    return pack_efficiency(load_table(spark, "documents", sf_dir))


PIPELINE_QUERIES["pipe_pack_efficiency"] = pipe_pack_efficiency
PIPELINE_ORACLE["pipe_pack_efficiency"] = (
    _CHUNK_CTE
    + ", pk AS ("
    "  SELECT doc_id, chunk_id, n_chunk_tokens, "
    "    CAST(FLOOR(COALESCE(SUM(n_chunk_tokens) OVER ("
    "      PARTITION BY doc_id ORDER BY chunk_id "
    "      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
    f"    / {PACK_BUDGET}) AS BIGINT) AS pack_id "
    "  FROM ch), "
    "packs AS ("
    "  SELECT doc_id, pack_id, CAST(SUM(n_chunk_tokens) AS BIGINT) "
    "    AS pack_toks "
    "  FROM pk GROUP BY 1, 2), "
    "g AS ("
    "  SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_packs, "
    "    CAST(SUM(p.pack_toks) AS BIGINT) AS total_tokens "
    "  FROM packs p JOIN documents d USING (doc_id) GROUP BY 1) "
    "SELECT source, n_packs, total_tokens, "
    f"  CAST(n_packs * {PACK_BUDGET} AS BIGINT) AS capacity, "
    f"  CAST((1000000 * total_tokens) // (n_packs * {PACK_BUDGET}) "
    "    AS BIGINT) AS fill_e6 "
    "FROM g"
)


# --------------------------------------------------------------------------
# Neyman-optimal stratified sample allocation (round 11)
# --------------------------------------------------------------------------

NEYMAN_BUDGET = 1000


def neyman_allocation(docs: DataFrame, budget: int = NEYMAN_BUDGET) -> DataFrame:
    """Variance-proportional (Neyman-optimal) sample allocation across
    source strata — the statistically correct upgrade of
    pipe_stratified_sample's proportional split: a stratum's share of
    the eval budget is N_h·σ_h / Σ N_h·σ_h, which minimizes the
    variance of the stratified mean estimator for a fixed total n
    (Neyman 1934). The measured variable is the document token count.

    Exactness: N_h·σ_h = √(N_h·Q_h − S_h²) exactly (population σ), so
    each stratum weight is ONE IEEE-exact sqrt of an exact integer
    (moments accumulate as exact longs; Q_h fits int64 at these doc
    lengths and the 100 TB form promotes to DECIMAL(38,0) like q142).
    Weights quantize to e6-floored integers BEFORE the cross-stratum
    sum — ~20 irrational doubles summed in engine-specific order would
    drift in the last bit; summed as integers the allocation is exact.
    Floor allocation deliberately under-spends by < n_strata samples
    (largest-remainder top-up is a driver-side postprocess at release
    time, not a relational op).

    Scale shape: one map-combinable moment aggregate per stratum, then
    windows over the |strata|-row table."""
    t = tokens("text", drop_empty=True)
    m = (
        docs.select("source", F.size(t).cast("long").alias("x"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("s"),
            F.sum(F.col("x") * F.col("x")).alias("q"),
        )
    )
    w_e6 = F.floor(
        F.lit(1_000_000.0)
        * F.sqrt((F.col("n") * F.col("q") - F.col("s") * F.col("s"))
                 .cast("double"))
    ).cast("long")
    weighted = m.select(
        "source", F.col("n").cast("long").alias("n_docs"),
        w_e6.alias("weight_e6"),
    )
    w_all = Window.partitionBy()
    return weighted.select(
        "source", "n_docs", "weight_e6",
        F.expr(f"({budget} * weight_e6) div sum(weight_e6) over ()")
        .cast("long")
        .alias("alloc_n"),
        F.sum("weight_e6").over(w_all).cast("long").alias("total_weight_e6"),
    )


def pipe_neyman_allocation(spark, sf_dir):
    """Gate: Neyman-optimal eval-budget allocation across sources."""
    return neyman_allocation(load_table(spark, "documents", sf_dir))


PIPELINE_QUERIES["pipe_neyman_allocation"] = pipe_neyman_allocation
PIPELINE_ORACLE["pipe_neyman_allocation"] = (
    "WITH x AS ("
    "  SELECT source, CAST(len(list_filter(string_split_regex("
    "    lower(trim(text)), '\\s+'), y -> y <> '')) AS BIGINT) AS x "
    "  FROM documents), "
    "m AS ("
    "  SELECT source, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS s, "
    "    CAST(SUM(x * x) AS BIGINT) AS q "
    "  FROM x GROUP BY source), "
    "w AS ("
    "  SELECT source, CAST(n AS BIGINT) AS n_docs, "
    "    CAST(FLOOR(1000000.0 * SQRT((n * q - s * s)::DOUBLE)) AS BIGINT) "
    "      AS weight_e6 "
    "  FROM m) "
    "SELECT source, n_docs, weight_e6, "
    f"  CAST(({NEYMAN_BUDGET} * weight_e6) // SUM(weight_e6) OVER () "
    "    AS BIGINT) AS alloc_n, "
    "  CAST(SUM(weight_e6) OVER () AS BIGINT) AS total_weight_e6 "
    "FROM w"
)


# --------------------------------------------------------------------------
# tokenizer fertility (round 12)
# --------------------------------------------------------------------------

#: the subword proxy every fertility count shares: letter runs, digit
#: runs, single non-alnum marks over lower(trim(text)) — the GPT-2-ish
#: pre-tokenization shape reduced to what Java regex and RE2 render
#: identically. DuckDB pairing: regexp_extract_all(lower(trim(t)),
#: '[a-z]+|[0-9]+|[^a-z0-9 \t\n]').
SUBTOK_RE = r"[a-z]+|[0-9]+|[^a-z0-9 \t\n]"


def tokenizer_fertility(docs: DataFrame) -> DataFrame:
    """Per-source tokenizer fertility — subword tokens per whitespace
    word and characters per subword, the sizing numbers a training
    pipeline needs before committing a token budget (fertility >> 1
    flags sources the tokenizer fragments: code, URLs, non-Latin). All
    integer counts; the two ratios are exact e6 floor-divisions.

    Scale shape: pure map-side counting (two regex passes per doc, no
    explode — size(regexp_extract_all) never materializes the token
    array past the expression), ONE combinable aggregate on source."""
    # per-row counts are ints; the sums below are bigint
    text = F.col("text")
    low = F.lower(F.trim(text))
    words = F.size(tokens(text, drop_empty=True))
    subs = F.size(F.regexp_extract_all(low, F.lit(SUBTOK_RE), 0))
    chars = F.length(low)
    g = (
        docs.select(
            "source",
            words.alias("w"),
            subs.alias("s"),
            chars.alias("c"),
        )
        .groupBy("source")
        .agg(
            F.sum("w").cast("long").alias("n_words"),
            F.sum("s").cast("long").alias("n_subtoks"),
            F.sum("c").cast("long").alias("n_chars"),
        )
    )
    return g.select(
        "source", "n_words", "n_subtoks", "n_chars",
        F.expr("(1000000 * n_subtoks) DIV n_words").alias("fertility_e6"),
        F.expr("(1000000 * n_chars) DIV n_subtoks").alias(
            "chars_per_subtok_e6"
        ),
    )


def pipe_tokenizer_fertility(spark, sf_dir):
    """Gate: per-source subword fertility + chars-per-token."""
    return tokenizer_fertility(load_table(spark, "documents", sf_dir))


PIPELINE_QUERIES["pipe_tokenizer_fertility"] = pipe_tokenizer_fertility
PIPELINE_ORACLE["pipe_tokenizer_fertility"] = (
    "WITH d AS ("
    "  SELECT source, "
    "    len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), "
    "      x -> x <> '')) AS w, "
    "    len(regexp_extract_all(lower(trim(text)), "
    "      '[a-z]+|[0-9]+|[^a-z0-9 \\t\\n]')) AS s, "
    "    length(lower(trim(text))) AS c "
    "  FROM documents) "
    "SELECT source, CAST(SUM(w) AS BIGINT) AS n_words, "
    "  CAST(SUM(s) AS BIGINT) AS n_subtoks, "
    "  CAST(SUM(c) AS BIGINT) AS n_chars, "
    "  CAST((1000000 * SUM(s)) // SUM(w) AS BIGINT) AS fertility_e6, "
    "  CAST((1000000 * SUM(c)) // SUM(s) AS BIGINT) "
    "    AS chars_per_subtok_e6 "
    "FROM d GROUP BY source"
)


# --------------------------------------------------------------------------
# T5-style span corruption accounting (round 12)
# --------------------------------------------------------------------------

SPANC_SEED = "span-corruption-1"
SPANC_LEN = 3
SPANC_PCT = 15


def span_corruption(docs: DataFrame, seed: str = SPANC_SEED) -> DataFrame:
    """Deterministic T5-style span-corruption accounting: each doc's
    token stream is tiled into SPANC_LEN-token spans and span s masks
    iff md5(seed:doc_id:s) % 100 < SPANC_PCT — the seeded coin the
    training job would use, so masks are reproducible across runs and
    EXACTLY replayable by the oracle (one digest per span, the
    dp_counts convention). Output is the per-doc corruption ledger
    (span/token counts + e6 mask rate) a data loader validates against
    before training.

    Scale shape: the explode is n_tokens/SPANC_LEN rows per doc with a
    map-side md5 each; ONE groupBy(doc_id) folds the ledger. No
    windows, no joins."""
    n = F.size(tokens("text", drop_empty=True)).cast("long")
    d = docs.select("doc_id", n.alias("n")).where(F.col("n") > 0)
    spans = d.select(
        "doc_id", "n",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.expr(f"(n + {SPANC_LEN - 1}) DIV {SPANC_LEN}") - 1,
            )
        ).alias("s"),
    )
    coin = hash_bucket(
        F.concat_ws(":", F.lit(seed), F.col("doc_id"), F.col("s")), 100
    )
    toks_in_span = F.least(
        F.lit(SPANC_LEN).cast("long"),
        F.col("n") - F.col("s") * SPANC_LEN,
    )
    flagged = spans.select(
        "doc_id", "n", "s",
        (coin < SPANC_PCT).cast("long").alias("m"),
        toks_in_span.alias("t"),
    )
    g = flagged.groupBy("doc_id").agg(
        F.max("n").alias("n_toks"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum("m").cast("long").alias("n_masked_spans"),
        F.sum(F.col("m") * F.col("t")).cast("long").alias("n_masked_toks"),
    )
    return g.select(
        "doc_id", "n_toks", "n_spans", "n_masked_spans", "n_masked_toks",
        F.expr("(1000000 * n_masked_toks) DIV n_toks").alias(
            "mask_rate_e6"
        ),
    )


def pipe_span_corruption(spark, sf_dir):
    """Gate: seeded span-corruption ledger per document."""
    return span_corruption(load_table(spark, "documents", sf_dir))


PIPELINE_QUERIES["pipe_span_corruption"] = pipe_span_corruption
PIPELINE_ORACLE["pipe_span_corruption"] = (
    "WITH d AS ("
    "  SELECT doc_id, CAST(len(list_filter(string_split_regex("
    "    lower(trim(text)), '\\s+'), x -> x <> '')) AS BIGINT) AS n "
    "  FROM documents), "
    "s AS ("
    "  SELECT doc_id, n, unnest(range(0, (n + "
    f"    {SPANC_LEN - 1}) // {SPANC_LEN})) AS s "
    "  FROM d WHERE n > 0), "
    "f AS ("
    "  SELECT doc_id, n, s, "
    f"    CASE WHEN ('0x' || substr(md5('{SPANC_SEED}:' || "
    "      CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR)), 1, 8"
    f"      ))::BIGINT % 100 < {SPANC_PCT} THEN 1 ELSE 0 END AS m, "
    f"    LEAST({SPANC_LEN}, n - s * {SPANC_LEN}) AS t "
    "  FROM s) "
    "SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_toks, "
    "  CAST(COUNT(*) AS BIGINT) AS n_spans, "
    "  CAST(SUM(m) AS BIGINT) AS n_masked_spans, "
    "  CAST(SUM(m * t) AS BIGINT) AS n_masked_toks, "
    "  CAST((1000000 * SUM(m * t)) // MAX(n) AS BIGINT) AS mask_rate_e6 "
    "FROM f GROUP BY doc_id"
)


# --------------------------------------------------------------------------
# preference pairs (round 12)
# --------------------------------------------------------------------------


def preference_pairs(docs: DataFrame) -> DataFrame:
    """Per-source (chosen, rejected) document pairs by quality score —
    the RLHF/DPO-style pair construction reduced to its data-layer
    core: within each bucket pick the best and worst scored items with
    a total-order tie rule. The score is textstats' deterministic
    quality score lifted to an EXACT e4 integer (floor BEFORE the
    /10000 that quality_parts applies — the float the gates can't
    hash-compare never appears), and the selection key packs
    score_e4·10¹² + doc_id into one long, so chosen = max_by and
    rejected = min_by are single combinable aggregates — never a
    per-source sort.

    Scale shape: one map-side score projection, ONE hash aggregate on
    source; ties deterministic at any scale."""
    from .textstats import quality_parts

    n_tokens, punct_ratio, stop_ratio, _score = quality_parts(
        F.col("text")
    )
    score_e4 = (
        F.when(n_tokens < 5, F.lit(0))
        .otherwise(
            F.floor(
                (
                    (1.0 - F.least(punct_ratio * 4, F.lit(1.0))) * 0.5
                    + F.least(stop_ratio * 5, F.lit(1.0)) * 0.5
                )
                * 10000
            )
        )
        .cast("long")
    )
    # the key form assumes doc_id < 10^12 (its digit slot below the
    # score digits); a larger id raises in-plan instead of silently
    # corrupting the max_by/min_by ordering — same guard as
    # q186_ohlc_bars' event_id slot (round-12 VERDICT item 2). The
    # oracle's sc * 10^12 + doc_id carries the same documented bound.
    key = (
        score_e4 * F.lit(10**12).cast("long")
        + F.col("doc_id")
        # + 0 while the id fits its 10^12 digit slot; raises otherwise
        + F.coalesce(
            F.assert_true(
                F.col("doc_id") < F.lit(10**12).cast("long"),
                F.lit(
                    "preference_pairs: doc_id >= 10^12 would bleed into"
                    " the score digits of the selection key"
                ),
            ).cast("long"),
            F.lit(0).cast("long"),
        )
    )
    scored = docs.select(
        "source", "doc_id", score_e4.alias("s"), key.alias("k")
    )
    return (
        scored.groupBy("source")
        .agg(
            F.max_by("doc_id", "k").alias("chosen_doc"),
            F.max("s").cast("long").alias("chosen_score_e4"),
            F.min_by("doc_id", "k").alias("rejected_doc"),
            F.min("s").cast("long").alias("rejected_score_e4"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )
        .select(
            "source", "chosen_doc", "chosen_score_e4", "rejected_doc",
            "rejected_score_e4", "n_docs",
            (F.col("chosen_score_e4") - F.col("rejected_score_e4")).alias(
                "gap_e4"
            ),
        )
    )


def pipe_preference_pairs(spark, sf_dir):
    """Gate: per-source best/worst quality preference pairs."""
    return preference_pairs(load_table(spark, "documents", sf_dir))


from .textstats import _STOP_PAT as _QUALITY_STOP_PAT  # noqa: E402


PIPELINE_QUERIES["pipe_preference_pairs"] = pipe_preference_pairs
PIPELINE_ORACLE["pipe_preference_pairs"] = (
    "WITH p AS ("
    "  SELECT source, doc_id, "
    "    len(string_split_regex(trim(text), '\\s+')) AS n_tokens, "
    "    length(text) AS n_chars, "
    "    len(regexp_extract_all(text, '[^\\sA-Za-z0-9]')) AS n_punct, "
    f"    len(regexp_extract_all(lower(text), '{_QUALITY_STOP_PAT}')) "
    "      AS n_stop "
    "  FROM documents), "
    "s AS ("
    "  SELECT source, doc_id, "
    "    CASE WHEN n_tokens < 5 THEN 0 ELSE CAST(FLOOR(("
    "      (1.0 - LEAST(FLOOR(n_punct::DOUBLE / n_chars * 10000) "
    "        / 10000 * 4, 1.0)) * 0.5 "
    "      + LEAST(FLOOR(n_stop::DOUBLE / n_tokens * 10000) "
    "        / 10000 * 5, 1.0) * 0.5) * 10000) AS BIGINT) END AS sc "
    "  FROM p), "
    "k AS (SELECT source, doc_id, sc, "
    "  sc * 1000000000000 + doc_id AS key FROM s) "
    "SELECT source, "
    "  arg_max(doc_id, key) AS chosen_doc, "
    "  CAST(MAX(sc) AS BIGINT) AS chosen_score_e4, "
    "  arg_min(doc_id, key) AS rejected_doc, "
    "  CAST(MIN(sc) AS BIGINT) AS rejected_score_e4, "
    "  CAST(COUNT(*) AS BIGINT) AS n_docs, "
    "  CAST(MAX(sc) - MIN(sc) AS BIGINT) AS gap_e4 "
    "FROM k GROUP BY source"
)


# --------------------------------------------------------------------------
# round 13: systematic (low-discrepancy) weighted resampling
# --------------------------------------------------------------------------

#: number of picks the systematic-resample gate draws
RESAMPLE_N = 200


def systematic_resample(docs: DataFrame, n_picks: int = RESAMPLE_N) -> DataFrame:
    """Systematic (low-discrepancy) weighted resampling: draw
    ``n_picks`` documents with probability proportional to weight
    (here ``n_chars`` — the byte-budget proxy) by walking the
    cumulative-weight axis at a FIXED stride — pick j selects the doc
    whose cumulative interval [cum−w, cum) covers t_j = (2j+1)·W div
    (2n). The particle-filter / data-mixing standard: zero variance
    beyond the stride phase, and — unlike multinomial draws — no RNG
    state at all here (the stride phase is pinned at W/2n), so the
    same corpus yields the same sample on any cluster, and DuckDB
    replays it exactly in integers.

    Scale posture: the prefix sum is the q192 two-phase scan
    (:func:`~data_table_spark.operators.scale.distributed_prefix_sum`
    — per-range partial sums, driver ledger, broadcast offsets; no
    global window). The pick table is n_picks rows — broadcast — so
    the interval match is a map-side broadcast join against the doc
    intervals: one pass over the corpus, no shuffle beyond the prefix
    sum's own. Docs with zero weight get an empty [cum, cum) interval
    and are structurally unpickable — no filter needed."""
    from .scale import distributed_prefix_sum

    cells = docs.select("doc_id", F.col("n_chars").cast("long").alias("w"))
    cum = distributed_prefix_sum(cells, "doc_id", "w", out_col="cum")
    tot = cells.agg(F.sum("w").alias("tot"))
    spark = docs.sparkSession
    picks = (
        spark.range(n_picks)
        .select(F.col("id").alias("pick_id"))
        .crossJoin(F.broadcast(tot))
        .select(
            "pick_id",
            F.expr(f"(2 * pick_id + 1) * tot div {2 * n_picks}").alias("t"),
        )
    )
    return (
        cum.join(
            F.broadcast(picks),
            (F.col("t") >= F.col("cum") - F.col("w"))
            & (F.col("t") < F.col("cum")),
        )
        .select("pick_id", "doc_id", F.col("w").alias("weight"))
    )


def pipe_systematic_resample(spark, sf_dir):
    """Gate: 200 systematic weighted picks over the documents corpus."""
    return systematic_resample(load_table(spark, "documents", sf_dir))


PIPELINE_QUERIES["pipe_systematic_resample"] = pipe_systematic_resample
PIPELINE_ORACLE["pipe_systematic_resample"] = (
    "WITH c AS ("
    "  SELECT doc_id, CAST(n_chars AS BIGINT) AS w, "
    "    SUM(CAST(n_chars AS BIGINT)) OVER (ORDER BY doc_id) AS cum "
    "  FROM documents), "
    "t AS (SELECT SUM(CAST(n_chars AS BIGINT)) AS tot FROM documents), "
    "p AS ("
    f"  SELECT j AS pick_id, (2 * j + 1) * tot // {2 * RESAMPLE_N} AS t "
    f"  FROM (SELECT unnest(range({RESAMPLE_N})) AS j), t) "
    "SELECT p.pick_id, c.doc_id, c.w AS weight "
    "FROM p JOIN c ON p.t >= c.cum - c.w AND p.t < c.cum"
)


# --------------------------------------------------------------------------
# round 13: SFT loss-mask span ledger
# --------------------------------------------------------------------------

#: sentence-boundary split shared by the Spark gate and the DuckDB
#: oracle — terminator + whitespace, RE2-safe (no lookbehind) so both
#: engines drop the delimiter identically.
SENT_SPLIT = r"[.!?]\s+"


def loss_mask_spans(docs: DataFrame) -> DataFrame:
    """Per-document SFT loss-mask ledger: treat each document as a
    pseudo-chat transcript (sentences alternate user / assistant turns
    — even index = user, odd = assistant, the instruction-tuning
    convention) and account the tokens the loss is actually computed
    on (assistant turns only; user turns are masked). Output per doc:
    turn count, total tokens, trainable tokens, and the trainable
    fraction in exact basis points (·10⁴, integer div) — the number a
    data-mixing plan needs to convert corpus tokens into EFFECTIVE
    training tokens.

    Positions are assigned BEFORE empty-segment filtering (posexplode
    over the raw split), so a double terminator cannot shift the
    role parity of later turns. All column expressions — split,
    posexplode, token counts via the shared :func:`n_tokens` — stay
    JVM-side; one partial-aggregable groupBy(doc_id), no Python."""
    segs = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), SENT_SPLIT)).alias("pos", "seg"),
    ).where(F.trim(F.col("seg")) != "")
    # tokenize each segment ONCE in a projection — referencing
    # n_tokens(seg) in two aggregate expressions would run the regex
    # split twice per segment
    counted = segs.select("doc_id", "pos", n_tokens(F.col("seg")).alias("t"))
    per = counted.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.sum("t").cast("long").alias("total_tokens"),
        F.sum(F.when(F.col("pos") % 2 == 1, F.col("t")).otherwise(0))
        .cast("long").alias("trainable_tokens"),
    )
    return per.select(
        "doc_id", "n_turns", "total_tokens", "trainable_tokens",
        F.expr("trainable_tokens * 10000 div total_tokens").cast("long")
        .alias("trainable_bp"),
    )


def pipe_loss_mask_spans(spark, sf_dir):
    """Gate: alternating-turn loss-mask ledger over documents."""
    return loss_mask_spans(load_table(spark, "documents", sf_dir))


PIPELINE_QUERIES["pipe_loss_mask_spans"] = pipe_loss_mask_spans
PIPELINE_ORACLE["pipe_loss_mask_spans"] = (
    "WITH parts AS ("
    "  SELECT doc_id, string_split_regex(text, '[.!?]\\s+') AS segs "
    "  FROM documents), "
    "segs AS ("
    "  SELECT doc_id, k AS pos, segs[k + 1] AS seg "
    "  FROM parts, UNNEST(range(len(segs))) AS u(k) "
    "  WHERE trim(segs[k + 1]) <> ''), "
    "tk AS ("
    "  SELECT doc_id, pos, len(list_filter(string_split_regex("
    "    lower(trim(seg)), '\\s+'), x -> x <> '')) AS t "
    "  FROM segs), "
    "per AS ("
    "  SELECT doc_id, COUNT(*) AS n_turns, SUM(t) AS total_tokens, "
    "    SUM(CASE WHEN pos % 2 = 1 THEN t ELSE 0 END) AS trainable_tokens "
    "  FROM tk GROUP BY doc_id) "
    "SELECT doc_id, CAST(n_turns AS BIGINT) AS n_turns, "
    "  CAST(total_tokens AS BIGINT) AS total_tokens, "
    "  CAST(trainable_tokens AS BIGINT) AS trainable_tokens, "
    "  CAST(trainable_tokens * 10000 // total_tokens AS BIGINT) "
    "    AS trainable_bp "
    "FROM per"
)
