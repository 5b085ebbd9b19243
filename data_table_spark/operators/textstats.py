"""Text analysis for training-data pipelines (SURVEY §2.2 G14).

- token/char statistics (whitespace + BPE-ish regex token counts)
- quality scoring (length / punctuation / stopword / uppercase ratios)
- language ID (deterministic n-gram+stopword heuristic)
- document fingerprinting (MD5 over normalized text)

Everything is a pure Column expression (regexp_extract_all / size /
md5 / CASE) — JVM-side, codegen-friendly, zero Python on the hot path,
and each query has an exact DuckDB oracle because the heuristics are
deterministic arithmetic, not models.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import ngrams, normalize_ws, sentences, tokens
from ..lineage import truncate_lineage
from ..sources.registry import load_table, local_df

#: BPE-ish token pattern: letter runs | single digits | single punctuation.
BPE_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"

STOPWORDS = ("the", "a", "of", "and", "to", "in")

#: tiny per-language stopword packs for the langid heuristic
LANG_PACKS = {
    "en": ("the", "a", "and", "of"),
    "de": ("der", "die", "das", "und"),
    "fr": ("le", "la", "les", "et"),
    "es": ("el", "los", "las", "y"),
}


def _count_re(col: Column, pattern: str) -> Column:
    # idx=0 (whole match): Spark defaults to group 1 and errors when the
    # pattern has no groups; DuckDB counts whole matches — align on 0
    return F.size(F.regexp_extract_all(col, F.lit(pattern), 0))


def _word_count(col: Column, words: tuple[str, ...]) -> Column:
    pat = r"\b(" + "|".join(words) + r")\b"
    return _count_re(F.lower(col), pat)


def text_token_stats(spark, sf_dir):
    """Whitespace tokens, BPE-ish tokens, chars, and mean token length."""
    d = load_table(spark, "documents", sf_dir)
    t = F.col("text")
    n_words = F.size(tokens(t, lower=False))
    bpe_tokens = _count_re(t, BPE_RE)
    chars = F.length(t)
    return d.select(
        "doc_id",
        n_words.cast("long").alias("n_tokens"),
        bpe_tokens.cast("long").alias("n_bpe_tokens"),
        chars.cast("long").alias("n_chars_m"),
        F.round(chars.cast("double") / n_words, 4).alias("chars_per_token"),
    )


def _word_pair(a: Column, b: Column) -> Column:
    """``ngrams`` combiner for bigrams kept as ``(w1, w2)`` structs."""
    return F.struct(a.alias("w1"), b.alias("w2"))


def _trunc4(c: Column) -> Column:
    """Truncate (floor) instead of round: ROUND(double, n) disagrees
    between engines at the …5 boundary (Spark rounds the shortest decimal
    repr HALF_UP, DuckDB rounds the binary value); floor of identical
    IEEE doubles is engine-independent."""
    return F.floor(c * 10000).cast("double") / 10000


def quality_parts(t: Column) -> tuple[Column, Column, Column, Column]:
    """(n_tokens, punct_ratio, stop_ratio, quality_score) for a text
    column — the deterministic 0-1 score shared by the text_quality gate
    and quality-weighted sampling (operators/pipeline.py). Every ratio is
    floor-truncated to 4 decimals (see _trunc4) so both engines agree."""
    n_chars = F.length(t)
    n_tokens = F.size(tokens(t, lower=False))
    n_punct = _count_re(t, r"[^\sA-Za-z0-9]")
    n_stop = _word_count(t, STOPWORDS)
    punct_ratio = _trunc4(n_punct.cast("double") / n_chars)
    stop_ratio = _trunc4(n_stop.cast("double") / n_tokens)
    score = (
        F.when(n_tokens < 5, 0.0)
        .otherwise(
            _trunc4(
                (1.0 - F.least(punct_ratio * 4, F.lit(1.0))) * 0.5
                + F.least(stop_ratio * 5, F.lit(1.0)) * 0.5
            )
        )
    )
    return n_tokens, punct_ratio, stop_ratio, score


def quality_score(t: Column) -> Column:
    """The 0-1 quality score alone (see quality_parts)."""
    return quality_parts(t)[3]


def text_quality(spark, sf_dir):
    """Quality signals + a deterministic 0-1 score: penalize very short
    docs, high punctuation density, zero stopwords."""
    d = load_table(spark, "documents", sf_dir)
    n_tokens, punct_ratio, stop_ratio, score = quality_parts(F.col("text"))
    return d.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stop_ratio"),
        score.alias("quality_score"),
    )


def text_langid(spark, sf_dir):
    """Deterministic language ID: CJK presence → zh; else argmax of
    per-language stopword hits with fixed tie order en>de>fr>es; no hits
    → 'und'. (The synthetic corpus is English-vocab for every lang label;
    the operator is graded on determinism + engine parity, and on real
    text behaves like a classic stopword classifier.)"""
    d = load_table(spark, "documents", sf_dir)
    t = F.col("text")
    has_cjk = _count_re(t, r"[\x{4e00}-\x{9fff}]") > 0
    scores = {lang: _word_count(t, words) for lang, words in LANG_PACKS.items()}
    en, de, fr, es = scores["en"], scores["de"], scores["fr"], scores["es"]
    best = F.greatest(en, de, fr, es)
    pred = (
        F.when(has_cjk, "zh")
        .when(best == 0, "und")
        .when(en == best, "en")
        .when(de == best, "de")
        .when(fr == best, "fr")
        .otherwise("es")
    )
    return d.select("doc_id", pred.alias("pred_lang"), best.cast("long").alias("hits"))


def text_fingerprint(spark, sf_dir):
    """MD5 fingerprint of normalized text (lowercase, collapsed
    whitespace) — standard MD5, so engines agree byte-for-byte."""
    d = load_table(spark, "documents", sf_dir)
    norm = normalize_ws("text")
    return d.select("doc_id", F.md5(norm).alias("fingerprint"))


TEXTSTATS_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "text_token_stats": text_token_stats,
    "text_quality": text_quality,
    "text_langid": text_langid,
    "text_fingerprint": text_fingerprint,
}

_STOP_PAT = r"\b(" + "|".join(STOPWORDS) + r")\b"
_EN = r"\b(" + "|".join(LANG_PACKS["en"]) + r")\b"
_DE = r"\b(" + "|".join(LANG_PACKS["de"]) + r")\b"
_FR = r"\b(" + "|".join(LANG_PACKS["fr"]) + r")\b"
_ES = r"\b(" + "|".join(LANG_PACKS["es"]) + r")\b"

# DuckDB rendering of quality_parts' score — a subquery yielding
# (doc_id, quality_score), shared by the text_quality oracle's shape and
# the pipe_quality_sample oracle (operators/pipeline.py)
QUALITY_SCORE_SUBQUERY = (
    "SELECT doc_id, CASE WHEN n_tokens < 5 THEN 0.0 ELSE "
    "FLOOR(((1.0 - LEAST(FLOOR(n_punct::DOUBLE / n_chars * 10000) / 10000 * 4, 1.0)) * 0.5 "
    "+ LEAST(FLOOR(n_stop::DOUBLE / n_tokens * 10000) / 10000 * 5, 1.0) * 0.5) "
    "* 10000) / 10000 END AS quality_score FROM "
    "(SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) n_tokens, "
    "length(text) n_chars, "
    "len(regexp_extract_all(text, '[^\\sA-Za-z0-9]')) n_punct, "
    f"len(regexp_extract_all(lower(text), '{_STOP_PAT}')) n_stop "
    "FROM documents) _qparts"
)

TEXTSTATS_ORACLE: dict[str, str] = {
    "text_token_stats":
        "SELECT doc_id, "
        "len(string_split_regex(trim(text), '\\s+'))::BIGINT n_tokens, "
        f"len(regexp_extract_all(text, '{BPE_RE}'))::BIGINT n_bpe_tokens, "
        "length(text)::BIGINT n_chars_m, "
        "ROUND(length(text)::DOUBLE / len(string_split_regex(trim(text), '\\s+')), 4) "
        "chars_per_token FROM documents",
    "text_quality":
        "WITH s AS (SELECT doc_id, "
        "  len(string_split_regex(trim(text), '\\s+')) n_tokens, "
        "  length(text) n_chars, "
        "  len(regexp_extract_all(text, '[^\\sA-Za-z0-9]')) n_punct, "
        f"  len(regexp_extract_all(lower(text), '{_STOP_PAT}')) n_stop "
        "FROM documents) "
        "SELECT doc_id, n_tokens::BIGINT n_tokens, "
        "FLOOR(n_punct::DOUBLE / n_chars * 10000) / 10000 punct_ratio, "
        "FLOOR(n_stop::DOUBLE / n_tokens * 10000) / 10000 stop_ratio, "
        "CASE WHEN n_tokens < 5 THEN 0.0 ELSE "
        "FLOOR(((1.0 - LEAST(FLOOR(n_punct::DOUBLE / n_chars * 10000) / 10000 * 4, 1.0)) * 0.5 "
        "+ LEAST(FLOOR(n_stop::DOUBLE / n_tokens * 10000) / 10000 * 5, 1.0) * 0.5) "
        "* 10000) / 10000 END "
        "quality_score FROM s",
    "text_langid":
        "WITH s AS (SELECT doc_id, "
        "  len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) cjk, "
        f"  len(regexp_extract_all(lower(text), '{_EN}')) en, "
        f"  len(regexp_extract_all(lower(text), '{_DE}')) de, "
        f"  len(regexp_extract_all(lower(text), '{_FR}')) fr, "
        f"  len(regexp_extract_all(lower(text), '{_ES}')) es "
        "FROM documents) "
        "SELECT doc_id, "
        "CASE WHEN cjk > 0 THEN 'zh' "
        "WHEN GREATEST(en, de, fr, es) = 0 THEN 'und' "
        "WHEN en = GREATEST(en, de, fr, es) THEN 'en' "
        "WHEN de = GREATEST(en, de, fr, es) THEN 'de' "
        "WHEN fr = GREATEST(en, de, fr, es) THEN 'fr' "
        "ELSE 'es' END pred_lang, "
        "GREATEST(en, de, fr, es)::BIGINT hits FROM s",
    "text_fingerprint":
        "SELECT doc_id, "
        "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) fingerprint "
        "FROM documents",
}


# --------------------------------------------------------------------------
# scrubbing (URL / email masking + whitespace normalization)
# --------------------------------------------------------------------------

URL_RE = r"https?://[^\s]+"
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


def scrub_text(col: Column) -> Column:
    """Mask URLs and emails, collapse whitespace — the standard pre-train
    scrub pass. Order matters: URLs first (an URL may contain an
    @-segment), then emails, then whitespace. Pure regexp_replace chain —
    map-side, codegen, identical regex dialect in DuckDB (oracle)."""
    c = F.regexp_replace(col, URL_RE, "<URL>")
    c = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    return normalize_ws(c, lower=False)


def text_scrub(spark, sf_dir):
    """Gate: scrubbed text + a changed flag (the fixture corpus has no
    URLs, so the flag also PINS that masking never fires spuriously)."""
    d = load_table(spark, "documents", sf_dir)
    s = scrub_text(F.col("text"))
    return d.select(
        "doc_id",
        F.md5(s).alias("scrubbed_md5"),
        (s != F.col("text")).alias("changed"),
    )


TEXTSTATS_QUERIES["text_scrub"] = text_scrub
TEXTSTATS_ORACLE["text_scrub"] = (
    "SELECT doc_id, "
    "md5(trim(regexp_replace(regexp_replace(regexp_replace(text, "
    f"'{URL_RE}', '<URL>', 'g'), "
    f"'{EMAIL_RE}', '<EMAIL>', 'g'), "
    "'\\s+', ' ', 'g'))) AS scrubbed_md5, "
    "trim(regexp_replace(regexp_replace(regexp_replace(text, "
    f"'{URL_RE}', '<URL>', 'g'), "
    f"'{EMAIL_RE}', '<EMAIL>', 'g'), "
    "'\\s+', ' ', 'g')) != text AS changed "
    "FROM documents"
)


# --------------------------------------------------------------------------
# repetition detection (Gopher-style quality rule)
# --------------------------------------------------------------------------

def text_repetition(spark, sf_dir):
    """Repeated-trigram quality signals per document — the "fraction of
    text inside the most common n-gram" family of corpus filters that
    catches boilerplate, keyword stuffing, and degenerate generations.

    top_share = count of the most frequent trigram / total trigrams;
    dup_share = 1 − distinct/total. Both computed as PURE expressions,
    zero shuffle: the max frequency is the longest run of equal adjacent
    elements in the SORTED trigram array (one aggregate fold per row) —
    no explode + two-level groupBy, so the operator stays map-side at
    100 TB where the exploded form would shuffle ~n_tokens rows/doc.
    Documents with fewer than 3 tokens have no trigrams and are omitted
    (matching the oracle's WHERE len >= 3)."""
    d = load_table(spark, "documents", sf_dir)
    tri = ngrams(tokens("text"), 3)
    sorted_tri = F.array_sort(tri)
    # r13: ONE fold yields best-run, distinct and total together. The
    # old form referenced `tri` three times (the fold, size(tri),
    # size(array_distinct(tri))) and each reference re-inlined the
    # whole tokenize+trigram build per row (the quantize-re-inline
    # class, plan-verified: 3 split() sites -> 1). In the sorted array
    # distinct = number of run starts and total = element count, so
    # both ride the same accumulator the best-run scan already carries.
    stats = F.aggregate(
        sorted_tri,
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
            F.lit(0).alias("distinct"),
            F.lit(0).alias("total"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
            (
                acc["distinct"]
                + F.when(x == acc["prev"], F.lit(0)).otherwise(F.lit(1))
            ).alias("distinct"),
            (acc["total"] + 1).alias("total"),
        ),
        lambda acc: F.struct(
            acc["best"].alias("best"),
            acc["distinct"].alias("distinct"),
            acc["total"].alias("total"),
        ),
    )
    # the "has trigrams" filter runs on the CHEAP token count, not on
    # the fold output: `n_trigrams > 0` after the select pushes down as
    # a second full build+sort+fold per row (plan-verified); a doc has
    # trigrams iff it has >= 3 tokens, so this predicate is identical
    # and costs one split per row.
    has_tri = F.size(tokens("text")) >= 3
    return (
        d.where(has_tri)
        .select("doc_id", stats.alias("st"))
        .select(
            "doc_id",
            F.col("st.best").cast("long").alias("max_trigram_count"),
            F.col("st.total").cast("long").alias("n_trigrams"),
            F.col("st.distinct").cast("long").alias("n_distinct"),
        )
        .select(
            "doc_id",
            "max_trigram_count",
            "n_trigrams",
            (F.floor(F.col("max_trigram_count") / F.col("n_trigrams") * 10000) / 10000)
            .alias("top_share"),
            (F.floor((1 - F.col("n_distinct") / F.col("n_trigrams")) * 10000) / 10000)
            .alias("dup_share"),
        )
    )


TEXTSTATS_QUERIES["text_repetition"] = text_repetition
TEXTSTATS_ORACLE["text_repetition"] = (
    "WITH toks AS ("
    "  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') t "
    "  FROM documents"
    "), tri AS ("
    "  SELECT doc_id, unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] "
    "  FOR i IN range(1, len(t) - 1)]) g FROM toks WHERE len(t) >= 3"
    "), cnt AS ("
    "  SELECT doc_id, g, COUNT(*) c FROM tri GROUP BY doc_id, g"
    ") "
    "SELECT doc_id, MAX(c)::BIGINT AS max_trigram_count, "
    "SUM(c)::BIGINT AS n_trigrams, "
    "FLOOR(MAX(c)::DOUBLE / SUM(c) * 10000) / 10000 AS top_share, "
    "FLOOR((1 - COUNT(*)::DOUBLE / SUM(c)) * 10000) / 10000 AS dup_share "
    "FROM cnt GROUP BY doc_id"
)


# --------------------------------------------------------------------------
# TF-IDF top terms
# --------------------------------------------------------------------------

TFIDF_TOP_K = 5


def text_tfidf_top_terms(spark, sf_dir, k: int = TFIDF_TOP_K):
    """Top-k most characteristic terms per document by term-frequency ×
    inverse-document-frequency — the classic corpus keyword extractor.

    Score = tf · (N / df), the RATIO form of idf rather than ln(N/df):
    every operation (integer counts, one division, one multiplication)
    is IEEE-exact-rounded and therefore bit-identical between Spark and
    DuckDB, where ln() is a libm call with no cross-engine ulp guarantee
    — a 1-ulp ln difference under a rank or a floor flips a hash gate.
    The ratio form ranks identically to idf for fixed tf and
    monotonically rewards rarity; the ln form's different tf/idf
    *weighting* is a modeling choice, not a correctness property.

    Scale shape: explode → (doc, term) count [1 shuffle, map-side
    partial agg] → df by term [shuffle on term] → broadcast N → window
    top-k per doc. At 100 TB the df table is vocabulary-sized (≪ corpus)
    and broadcastable; nothing is quadratic. Ties break on term asc."""
    from pyspark.sql import Window

    d = load_table(spark, "documents", sf_dir)
    tok = d.select(
        "doc_id",
        F.explode(tokens("text")).alias("term"),
    ).where(F.col("term") != "")
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = d.agg(F.countDistinct("doc_id").alias("n"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id", "term", "tf", "df",
            # parenthesization mirrored exactly in the oracle: one
            # division, one multiplication, both IEEE-deterministic
            (F.col("tf") * (F.col("n").cast("double") / F.col("df"))).alias("s"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("s").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "doc_id", "term", "tf", "df",
            (F.floor(F.col("s") * 10000) / 10000).alias("tfidf_ratio"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


TEXTSTATS_QUERIES["text_tfidf_top_terms"] = text_tfidf_top_terms
TEXTSTATS_ORACLE["text_tfidf_top_terms"] = (
    "WITH tok AS ("
    "  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) term "
    "  FROM documents"
    "), tf AS ("
    "  SELECT doc_id, term, COUNT(*)::BIGINT tf FROM tok "
    "  WHERE term != '' GROUP BY doc_id, term"
    "), df AS ("
    "  SELECT term, COUNT(*)::BIGINT df FROM tf GROUP BY term"
    "), n AS (SELECT COUNT(DISTINCT doc_id) n FROM documents), "
    "scored AS ("
    "  SELECT tf.doc_id, tf.term, tf.tf, df.df, "
    "  (tf.tf * (n.n::DOUBLE / df.df)) s "
    "  FROM tf JOIN df USING (term), n"
    ") "
    "SELECT doc_id, term, tf, df, "
    "FLOOR(s * 10000) / 10000 AS tfidf_ratio, rank FROM ("
    "  SELECT *, ROW_NUMBER() OVER ("
    "    PARTITION BY doc_id ORDER BY s DESC, term)::BIGINT rank "
    "  FROM scored"
    f") WHERE rank <= {TFIDF_TOP_K}"
)


# --------------------------------------------------------------------------
# corpus vocabulary + out-of-vocabulary coverage (tokenizer-prep shapes)
# --------------------------------------------------------------------------

#: vocabulary cut for the gate. The synthetic corpus draws from a ~31-word
#: list at every sf, so 20 guarantees the cut actually excludes terms (a
#: vocab ≥ corpus-distinct-terms would make oov_rate identically 0 and the
#: gate vacuous). Real corpora pass vocab_size=32k-256k.
VOCAB_SIZE = 20


def corpus_vocab(docs: DataFrame, vocab_size: int = VOCAB_SIZE) -> DataFrame:
    """Corpus-level vocabulary: top-``vocab_size`` terms by total count
    with document frequency — the first pass of tokenizer training /
    coverage analysis over a corpus.

    Scale shape: explode → (term) count with map-side partial agg [1
    shuffle on term — the ONLY shuffle; its cardinality is the distinct
    vocabulary, ≪ corpus size] → global top-k via TakeOrderedAndProject
    (k is vocab-sized, never corpus-sized). Ties break (count desc,
    term asc) so the cut is deterministic.
    """
    from pyspark.sql import Window

    tok = docs.select(
        F.explode(tokens("text")).alias("term"),
        F.col("doc_id"),
    ).where(F.col("term") != "")
    counts = tok.groupBy("term").agg(
        F.count("*").alias("tf_total"),
        F.countDistinct("doc_id").alias("df"),
    )
    w = Window.orderBy(F.col("tf_total").desc(), F.col("term"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= vocab_size)
        .select("term", "tf_total", "df", F.col("rank").cast("long").alias("rank"))
    )


def text_vocab(spark, sf_dir):
    """Gate: the corpus top-VOCAB_SIZE vocabulary with counts."""
    return corpus_vocab(load_table(spark, "documents", sf_dir))


def oov_rate(docs: DataFrame, vocab_size: int = VOCAB_SIZE) -> DataFrame:
    """Per-document out-of-vocabulary token share against the corpus
    top-``vocab_size`` vocabulary — the coverage report that decides
    whether a tokenizer/vocab is big enough for a corpus.

    The vocab is computed once (vocabulary-sized) and BROADCAST to the
    token stream: the per-doc aggregation shuffles only (doc_id, two
    longs). oov_rate is floor-truncated (engine-exact, see _trunc4).
    """
    vocab = corpus_vocab(docs, vocab_size).select("term")
    tok = docs.select(
        "doc_id",
        F.explode(tokens("text")).alias("term"),
    ).where(F.col("term") != "")
    flagged = tok.join(
        F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "term", "left"
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        _trunc4(
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).cast("double")
            / F.count("*")
        ).alias("oov_rate"),
    )


def text_oov_rate(spark, sf_dir):
    """Gate: per-doc OOV share vs the corpus top-VOCAB_SIZE vocabulary."""
    return oov_rate(load_table(spark, "documents", sf_dir))


TEXTSTATS_QUERIES["text_vocab"] = text_vocab
TEXTSTATS_QUERIES["text_oov_rate"] = text_oov_rate

_VOCAB_CTE = (
    "tok AS ("
    "  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) term "
    "  FROM documents"
    "), counts AS ("
    "  SELECT term, COUNT(*)::BIGINT tf_total, COUNT(DISTINCT doc_id)::BIGINT df "
    "  FROM tok WHERE term != '' GROUP BY term"
    "), vocab AS ("
    "  SELECT * FROM ("
    "    SELECT *, ROW_NUMBER() OVER (ORDER BY tf_total DESC, term)::BIGINT rank "
    "    FROM counts"
    f"  ) WHERE rank <= {VOCAB_SIZE}"
    ")"
)

TEXTSTATS_ORACLE["text_vocab"] = (
    f"WITH {_VOCAB_CTE} SELECT term, tf_total, df, rank FROM vocab"
)
TEXTSTATS_ORACLE["text_oov_rate"] = (
    f"WITH {_VOCAB_CTE} "
    "SELECT tok.doc_id, COUNT(*)::BIGINT n_tokens, "
    "SUM(CASE WHEN vocab.term IS NULL THEN 1 ELSE 0 END)::BIGINT n_oov, "
    "FLOOR(SUM(CASE WHEN vocab.term IS NULL THEN 1 ELSE 0 END)::DOUBLE "
    "      / COUNT(*) * 10000) / 10000 oov_rate "
    "FROM tok LEFT JOIN vocab ON tok.term = vocab.term "
    "WHERE tok.term != '' GROUP BY tok.doc_id"
)


# --------------------------------------------------------------------------
# unigram LM scoring (corpus-level language-model quality signal)
# --------------------------------------------------------------------------

def unigram_lm_score(docs: DataFrame) -> DataFrame:
    """Per-document unigram surprisal against the corpus's own unigram
    distribution — the classic cheap LM quality filter (a doc of rare
    tokens scores low/negative-heavy; boilerplate of corpus-common tokens
    scores high). Output: (doc_id, n_tokens, surprisal_micro) where
    surprisal_micro = Σ_tokens floor(ln(p(term)) · 1e6) as BIGINT.

    Engine-exactness: per-token log-probs are floor-quantized to integer
    micro-nats BEFORE summing, so the document sum is exact 64-bit
    integer arithmetic — no float-accumulation-order divergence between
    Spark and the oracle. (A raw double Σ ln p differs across engines by
    summation order; floor(ln(p)·1e6) can only differ if the engines' ln
    disagrees within 1e-9 of an integer boundary — ~1e-9 probability per
    distinct term.)

    Scale shape: token explode → term count (1 shuffle, vocab-sized
    output) → total via single-row cross join → model BROADCAST to the
    token stream → per-doc agg (1 shuffle carrying (doc_id, long, long)).
    The model is vocabulary-sized, never corpus-sized."""
    tok = docs.select(
        "doc_id",
        F.explode(tokens("text")).alias("term"),
    ).where(F.col("term") != "")
    counts = tok.groupBy("term").agg(F.count("*").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    model = (
        counts.crossJoin(F.broadcast(total))
        .select(
            "term",
            F.floor(
                F.log(F.col("cnt").cast("double") / F.col("total").cast("double"))
                * 1_000_000
            ).cast("bigint").alias("logp_micro"),
        )
    )
    return (
        tok.join(F.broadcast(model), "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("logp_micro").alias("surprisal_micro"),
        )
    )


def text_lm_score(spark, sf_dir):
    """Gate: per-doc unigram surprisal in integer micro-nats."""
    return unigram_lm_score(load_table(spark, "documents", sf_dir))


TEXTSTATS_QUERIES["text_lm_score"] = text_lm_score
TEXTSTATS_ORACLE["text_lm_score"] = (
    "WITH tok AS ("
    "  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) term "
    "  FROM documents"
    "), t2 AS ("
    "  SELECT doc_id, term FROM tok WHERE term != ''"
    "), counts AS ("
    "  SELECT term, COUNT(*)::BIGINT cnt FROM t2 GROUP BY term"
    "), model AS ("
    "  SELECT term, CAST(FLOOR(ln(cnt::DOUBLE / "
    "    (SELECT SUM(cnt)::DOUBLE FROM counts)) * 1000000) AS BIGINT) logp_micro "
    "  FROM counts"
    ") "
    "SELECT t2.doc_id, COUNT(*)::BIGINT n_tokens, "
    "SUM(logp_micro)::BIGINT surprisal_micro "
    "FROM t2 JOIN model ON t2.term = model.term GROUP BY t2.doc_id"
)


# --------------------------------------------------------------------------
# positional inverted index + phrase search
# --------------------------------------------------------------------------

#: pinned two-word probe phrases for the gate (top-df bigrams of the
#: fixture at authoring time — any literal works; pinning keeps the
#: oracle trivial and the result stable under corpus drift)
PHRASE_PROBES = (
    "table hash", "merge group", "slow key", "part filter",
    "customer join",
)


def build_postings(docs: DataFrame) -> DataFrame:
    """Positional inverted index: one (term, doc_id, pos) posting per
    token occurrence — posexplode over the token split, map-side only.
    Write it out partitioned/bucketed by term and every phrase/boolean
    query becomes joins on the term key; this is the IR layout every
    search engine shards by."""
    toks = tokens("text")
    return docs.select(
        "doc_id", F.posexplode(toks).alias("pos", "term")
    )


def phrase_search(docs: DataFrame, phrases) -> DataFrame:
    """Two-word phrase search over the positional index: phrase "a b"
    matches a document iff some posting of `a` at pos p has a posting
    of `b` at p+1 — an EQUI-join of the two term's posting lists on
    (doc_id, adjacent position). The phrase list is tiny and broadcast;
    the postings join is the scalable path (each probe term's postings
    only — never a corpus scan per phrase, which is what the naive
    LIKE oracle does). Output: (phrase, n_docs)."""
    spark = docs.sparkSession
    post = build_postings(docs)
    probes = local_df(
        spark,
        [(p, p.split()[0], p.split()[1]) for p in phrases],
        "phrase string, ta string, tb string",
    )
    a = post.join(
        F.broadcast(probes), post["term"] == probes["ta"]
    ).select("phrase", "doc_id", "pos", "tb")
    b = post.select(
        F.col("term").alias("tb2"), F.col("doc_id").alias("d2"),
        F.col("pos").alias("p2"),
    )
    hits = a.join(
        b,
        (a["tb"] == b["tb2"])
        & (a["doc_id"] == b["d2"])
        & (a["pos"] + 1 == b["p2"]),
    )
    found = hits.groupBy("phrase").agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    # phrases with zero hits must still appear (count 0)
    return (
        F.broadcast(probes.select("phrase"))
        .join(found, "phrase", "left")
        .select(
            "phrase",
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
        )
    )


def text_phrase_search(spark, sf_dir):
    """Gate: the positional-index phrase join proven against a NAIVE,
    algebraically independent oracle — a LIKE scan over the
    whitespace-normalized text ('% a b %' on the space-wrapped
    normalized document). A green row means index construction,
    position arithmetic, and the postings self-join reproduce exactly
    what a full-scan engine sees."""
    return phrase_search(
        load_table(spark, "documents", sf_dir), PHRASE_PROBES
    )


TEXTSTATS_QUERIES["text_phrase_search"] = text_phrase_search
TEXTSTATS_ORACLE["text_phrase_search"] = (
    "WITH probes AS (SELECT UNNEST(["
    + ", ".join(f"'{p}'" for p in PHRASE_PROBES)
    + "]) AS phrase), "
    "norm AS (SELECT doc_id, ' ' || "
    "  regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') || ' ' AS t "
    "  FROM documents) "
    "SELECT p.phrase, CAST(COUNT(CASE WHEN n.t LIKE "
    "  '% ' || p.phrase || ' %' THEN 1 END) AS BIGINT) AS n_docs "
    "FROM probes p CROSS JOIN norm n GROUP BY p.phrase"
)


def hapax_ratio(docs: DataFrame) -> DataFrame:
    """Per-source hapax-legomena ratio — the lexical-diversity signal
    (what fraction of a source's vocabulary occurs exactly once) that
    separates templated/boilerplate sources from natural text in
    corpus triage. One explode + one (source, term) count + one
    per-source aggregate — all map-combinable; the ratio is an exact
    integer pair with one rounded division."""
    tok = docs.select(
        "source",
        F.explode(tokens("text")).alias("term"),
    ).where(F.col("term") != "")
    df_counts = tok.groupBy("source", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    return df_counts.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.when(F.col("tf") == 1, 1).otherwise(0))
        .cast("long").alias("hapax"),
        F.round(
            F.sum(F.when(F.col("tf") == 1, 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("hapax_ratio"),
    )


def text_hapax_ratio(spark, sf_dir):
    """Gate: per-source hapax share of the source vocabulary."""
    return hapax_ratio(load_table(spark, "documents", sf_dir))


TEXTSTATS_QUERIES["text_hapax_ratio"] = text_hapax_ratio
TEXTSTATS_ORACLE["text_hapax_ratio"] = (
    "WITH tok AS ("
    "  SELECT source, UNNEST(string_split_regex("
    "    lower(trim(text)), '\\s+')) AS term FROM documents), "
    "tf AS ("
    "  SELECT source, term, COUNT(*) AS tf FROM tok "
    "  WHERE term <> '' GROUP BY 1, 2) "
    "SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab, "
    "  CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax, "
    "  ROUND(CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS DOUBLE) "
    "    / COUNT(*), 6) AS hapax_ratio "
    "FROM tf GROUP BY source"
)


def zipf_fit(docs: DataFrame, top_n: int = 100) -> DataFrame:
    """Zipf-law fit over the corpus rank-frequency curve: OLS slope of
    ln(freq) on ln(rank) for the top-``top_n`` tokens — the classic
    naturalness check (natural language sits near slope −1; machine-
    generated or templated corpora drift off it).

    The vocabulary aggregate is corpus-wide but vocabulary-bounded;
    the top-N cut is a TakeOrderedAndProject (freq desc, term asc —
    total order, deterministic under ties). The regression runs on
    floored micro-nat integers (x = floor(1e6·ln rank),
    y = floor(1e6·ln freq)) so the moment sums are EXACT longs
    (|Σxy| ≤ N·(14e6)² ≈ 2e16 ≪ 2^63) and the only floats are the
    final slope/intercept divisions, rounded once."""
    from pyspark.sql import Window

    vocab = (
        docs.select(
            F.explode(tokens("text")).alias("term")
        )
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("term").asc())
        .limit(top_n)
    )
    # rank within the 100-row cut: bounded single-partition window
    ranked = vocab.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("freq").desc(), F.col("term").asc())
        ),
    ).select(
        F.floor(F.lit(1_000_000) * F.log(F.col("rk"))).alias("x"),
        F.floor(F.lit(1_000_000) * F.log(F.col("freq"))).alias("y"),
    )
    m = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    # the slope ratio FIRST (long / long → double), then sx·slope —
    # multiplying sx into the long numerator would overflow 2^63
    slope = (
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    ) / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    return m.select(
        F.col("n").cast("long").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(
            (F.col("sy") - F.col("sx") * slope)
            / F.col("n")
            / F.lit(1_000_000),
            6,
        ).alias("intercept_nats"),
    )


def text_zipf_fit(spark, sf_dir):
    """Gate: corpus Zipf slope from exact micro-nat integer moments."""
    return zipf_fit(load_table(spark, "documents", sf_dir))


TEXTSTATS_QUERIES["text_zipf_fit"] = text_zipf_fit
TEXTSTATS_ORACLE["text_zipf_fit"] = (
    "WITH tok AS ("
    "  SELECT UNNEST(string_split_regex(lower(trim(text)), '\\s+')) "
    "    AS term FROM documents), "
    "vocab AS ("
    "  SELECT term, COUNT(*) AS freq FROM tok WHERE term <> '' "
    "  GROUP BY 1 ORDER BY freq DESC, term ASC LIMIT 100), "
    "ranked AS ("
    "  SELECT FLOOR(1000000 * LN(ROW_NUMBER() OVER ("
    "      ORDER BY freq DESC, term ASC))) AS x, "
    "    FLOOR(1000000 * LN(freq)) AS y "
    "  FROM vocab), "
    "m AS ("
    "  SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx, "
    "    CAST(SUM(y) AS BIGINT) AS sy, "
    "    CAST(SUM(x * y) AS BIGINT) AS sxy, "
    "    CAST(SUM(x * x) AS BIGINT) AS sxx "
    "  FROM ranked) "
    "SELECT CAST(n AS BIGINT) AS n_terms, "
    "  ROUND(CAST(n * sxy - sx * sy AS DOUBLE) "
    "    / (n * sxx - sx * sx), 6) AS zipf_slope, "
    "  ROUND((sy - sx * (CAST(n * sxy - sx * sy AS DOUBLE) "
    "    / (n * sxx - sx * sx))) / n / 1000000, 6) AS intercept_nats "
    "FROM m"
)


# --------------------------------------------------------------------------
# bigram language model scoring (contextual LM quality filter)
# --------------------------------------------------------------------------

def bigram_lm_score(docs: DataFrame) -> DataFrame:
    """Per-document bigram surprisal under an add-1-smoothed bigram LM
    trained on the corpus itself — the contextual upgrade of
    unigram_lm_score (CCNet-style LM filtering: a doc whose word PAIRS
    are corpus-typical scores high even when its unigrams are rare;
    word-salad scores low even over common words). p(w2|w1) =
    (c(w1,w2) + 1) / (c(w1,·) + V) with V the unigram vocabulary size.

    Engine-exactness: unigram_lm_score's discipline — every count
    entering the ratio is an exact sub-2^53 integer, so both engines
    ln() the same double; per-bigram log-probs floor-quantize to
    integer micro-nats BEFORE the per-doc sum, which is then exact
    int64 arithmetic.

    Scale shape: one map-side bigram explode feeds both the model and
    the scoring join. The pair-count table is localCheckpoint-
    materialized ONCE (it is vocab-bounded — the q139 edge-list
    rationale) so the left-context totals re-aggregate from it instead
    of re-running the corpus explode (DataFrame reuse is not plan
    reuse — the q124 lesson). V is fetched as ONE DRIVER LONG and
    inlined as a literal: the 1-row-broadcast crossJoin alternative
    plans a BroadcastNestedLoopJoin, which the 100× smoke's blanket
    rule bans (q125's contract). The model join is left unhinted: at
    test scale AQE broadcasts it; at open-web scale a bigram model
    outgrows broadcast and the join correctly shuffles on the pair
    key."""
    toks = docs.select(
        "doc_id",
        tokens("text", drop_empty=True).alias("l"),
    )
    bg = (
        toks.where(F.size("l") >= 2)
        .select(
            "doc_id",
            F.explode(ngrams(F.col("l"), 2, _word_pair)).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2")
    )
    c12 = truncate_lineage(
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    c1 = c12.groupBy("w1").agg(F.sum("c").alias("tot"))
    vs = int(
        toks.select(F.explode("l").alias("t"))
        .agg(F.count_distinct("t"))
        .collect()[0][0]
    )
    model = (
        c12.join(c1, "w1")
        .select(
            "w1", "w2",
            F.floor(
                F.lit(1_000_000)
                * F.log(
                    (F.col("c") + 1).cast("double")
                    / (F.col("tot") + F.lit(vs)).cast("double")
                )
            ).cast("long").alias("logp_micro"),
        )
    )
    return (
        bg.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("logp_micro").cast("long").alias("surprisal_micro"),
        )
    )


def text_bigram_lm(spark, sf_dir):
    """Gate: per-doc add-1 bigram LM surprisal in integer micro-nats."""
    return bigram_lm_score(load_table(spark, "documents", sf_dir))


TEXTSTATS_QUERIES["text_bigram_lm"] = text_bigram_lm
TEXTSTATS_ORACLE["text_bigram_lm"] = (
    "WITH toks AS ("
    "  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), "
    "    '\\s+'), x -> x <> '') AS l "
    "  FROM documents), "
    "st AS ("
    "  SELECT doc_id, l, UNNEST(range(1, len(l))) AS i "
    "  FROM toks WHERE len(l) >= 2), "
    "bg AS (SELECT doc_id, l[i] AS w1, l[i + 1] AS w2 FROM st), "
    "c12 AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY 1, 2), "
    "c1 AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS tot "
    "  FROM c12 GROUP BY 1), "
    "v AS (SELECT COUNT(DISTINCT t) AS vs FROM ("
    "  SELECT UNNEST(l) AS t FROM toks)), "
    "model AS ("
    "  SELECT w1, w2, CAST(FLOOR(1000000 * LN("
    "    CAST(c + 1 AS DOUBLE) / CAST(tot + vs AS DOUBLE))) AS BIGINT) "
    "    AS logp_micro "
    "  FROM c12 JOIN c1 USING (w1), v) "
    "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams, "
    "  CAST(SUM(logp_micro) AS BIGINT) AS surprisal_micro "
    "FROM bg JOIN model USING (w1, w2) GROUP BY 1"
)


# --------------------------------------------------------------------------
# n-gram novelty: what share of a document's bigrams is new to the corpus
# --------------------------------------------------------------------------

def ngram_novelty(docs: DataFrame) -> DataFrame:
    """Per-document bigram novelty — the contamination/freshness readout
    a training-data pipeline runs on every incoming shard: of each
    document's DISTINCT word bigrams, how many appear in NO
    earlier-id document (their corpus-wide first occurrence is this
    doc)? High novelty = fresh content; near-zero = boilerplate or a
    near-dup of earlier data. Tokenization matches text_bigram_lm
    (lower, whitespace split, empties dropped). Docs with < 2 tokens
    emit zero counts (kept via the doc spine).

    Scale shape: one explode feeds a per-doc DISTINCT (shuffle on
    doc_id — map-side combine applies) and a first-occurrence agg
    (shuffle on the bigram key; min(doc_id) is map-combinable). The
    novelty counts then collapse back to doc_id — NO join back to the
    token stream: novel-per-doc is just the first-occurrence table
    re-grouped by its min-doc. Two key joins on doc_id stitch the
    spine; at open-web scale every stage is a plain hash shuffle on a
    uniform key (doc ids / bigrams), no broadcast side grows with the
    corpus."""
    toks = docs.select(
        "doc_id",
        tokens("text", drop_empty=True).alias("l"),
    )
    bgd = (
        toks.where(F.size("l") >= 2)
        .select(
            "doc_id",
            F.explode(ngrams(F.col("l"), 2, _word_pair)).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2")
        .distinct()
    )
    per_doc = bgd.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_distinct")
    )
    novel = (
        bgd.groupBy("w1", "w2")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .join(novel, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_distinct", F.lit(0)).cast("long")
            .alias("n_distinct_bigrams"),
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
        )
    )


def text_ngram_novelty(spark, sf_dir):
    """Gate: per-doc distinct-bigram and first-occurrence counts."""
    return ngram_novelty(load_table(spark, "documents", sf_dir))


TEXTSTATS_QUERIES["text_ngram_novelty"] = text_ngram_novelty
TEXTSTATS_ORACLE["text_ngram_novelty"] = (
    "WITH toks AS ("
    "  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), "
    "    '\\s+'), x -> x <> '') AS l "
    "  FROM documents), "
    "st AS ("
    "  SELECT doc_id, l, UNNEST(range(1, len(l))) AS i "
    "  FROM toks WHERE len(l) >= 2), "
    "bgd AS (SELECT DISTINCT doc_id, l[i] AS w1, l[i + 1] AS w2 FROM st), "
    "per_doc AS ("
    "  SELECT doc_id, COUNT(*) AS n_distinct FROM bgd GROUP BY 1), "
    "novel AS ("
    "  SELECT doc_id, COUNT(*) AS n_novel FROM ("
    "    SELECT MIN(doc_id) AS doc_id FROM bgd GROUP BY w1, w2) "
    "  GROUP BY 1) "
    "SELECT d.doc_id, "
    "  CAST(COALESCE(p.n_distinct, 0) AS BIGINT) AS n_distinct_bigrams, "
    "  CAST(COALESCE(n.n_novel, 0) AS BIGINT) AS n_novel "
    "FROM documents d "
    "LEFT JOIN per_doc p ON d.doc_id = p.doc_id "
    "LEFT JOIN novel n ON d.doc_id = n.doc_id"
)


# --------------------------------------------------------------------------
# compression-ratio quality signal (zlib) — the classic boilerplate filter
# --------------------------------------------------------------------------

def compression_ratio(docs: DataFrame) -> DataFrame:
    """Per-document zlib compression ratio — the classic cheap quality
    signal for LLM corpus filtering: highly repetitive/boilerplate text
    compresses far below prose (pair with text_repetition's n-gram
    form; this one sees ALL redundancy, not just trigram repeats).
    Emits utf-8 byte count, level-6 zlib deflate size, and the ratio
    in floored micro-units (NULL for empty docs). zlib at a FIXED
    level is deterministic for a given zlib build, which is why the
    proof is a golden test against the Python zlib directly rather
    than a DuckDB oracle (SQL has no deflate) — the same contract as
    pipe_bpe_merges.

    Scale shape: mapInPandas over Arrow batches — map-only, zero
    shuffle, embarrassingly parallel; the canonical legitimate Python
    hot path (a real codec, like the multimodal decoders)."""
    import pandas as pd  # noqa: PLC0415 — worker-side import

    schema = (
        "doc_id long, n_bytes long, n_compressed long, ratio_e6 long"
    )

    def fn(batches):
        import zlib

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                b = (text or "").encode("utf-8")
                c = len(zlib.compress(b, 6))
                rows.append(
                    (
                        int(doc_id),
                        len(b),
                        c,
                        (1_000_000 * c) // len(b) if b else None,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "n_bytes", "n_compressed", "ratio_e6"],
            )

    return docs.select("doc_id", "text").mapInPandas(fn, schema)


def text_compression_ratio(spark, sf_dir):
    """Gate: per-doc zlib-deflate quality signal (rows-only + golden)."""
    return compression_ratio(load_table(spark, "documents", sf_dir))


TEXTSTATS_QUERIES["text_compression_ratio"] = text_compression_ratio


# --------------------------------------------------------------------------
# PMI bigram collocations (phrase detection for tokenizer/vocab curation)
# --------------------------------------------------------------------------

def pmi_e6_expr(cxy: Column, cx: Column, cy: Column, n: Column) -> Column:
    """PMI in floored micro-nats: floor(1e6 · ln(cxy·n / (cx·cy))) for
    COUNT-typed operands. Count operands are cast to double BEFORE each
    product (the oracle's CAST(cxy AS DOUBLE) * n): a long×long count
    product wraps silently once cx·cy ≥ 2^63 — for a web-scale bigram
    table n alone passes 1e12, so the long form breaks well before
    100 TB. Property-tested at planted 1e10-scale counts
    (tests/test_properties.py)."""
    return F.floor(
        F.lit(1_000_000)
        * F.log((cxy.cast("double") * n) / (cx.cast("double") * cy))
    ).cast("long")


def pmi_bigrams(docs: DataFrame, min_count: int = 5) -> DataFrame:
    """Corpus-level pointwise mutual information for adjacent word
    pairs — the collocation detector behind phrase-merged vocabularies
    (word2phrase, tokenizer pre-merge curation): PMI = ln(p(xy) /
    (p(x)·p(y))) over the bigram event space, reported for every pair
    seen at least ``min_count`` times. High-PMI pairs ("hong kong")
    co-occur far above chance and are merge candidates; the threshold
    kills the degenerate 1/c·N spikes of singleton pairs.

    Engine-exactness (q127's discipline): marginals and N are exact
    sub-2^53 integers, the single ln() argument c_xy·N/(c_x·c_y) is one
    division of exact integer products, so both engines floor-quantize
    the same double to integer micro-nats.

    Scale shape: one map-side bigram explode (zip_with over the token
    array — no join to form pairs) feeds a pair-count aggregate,
    localCheckpointed ONCE because both marginals re-aggregate from it
    (vocab-bounded, the bigram_lm_score rationale). Marginal joins are
    left unhinted: vocab-sized tables broadcast under AQE at test
    scale and correctly shuffle at open-web vocab. Nothing in the plan
    touches the corpus twice."""
    toks = docs.select(
        tokens("text", drop_empty=True).alias("l"),
    )
    bg = (
        toks.where(F.size("l") >= 2)
        .select(
            F.explode(ngrams(F.col("l"), 2, _word_pair)).alias("p"),
        )
        .select("p.w1", "p.w2")
    )
    c12 = truncate_lineage(
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cxy"))
    )
    c1 = c12.groupBy("w1").agg(F.sum("cxy").alias("cx"))
    c2 = c12.groupBy("w2").agg(F.sum("cxy").alias("cy"))
    # N is ONE DRIVER LONG inlined as a literal (bigram_lm_score's
    # rationale verbatim: the 1-row-broadcast crossJoin alternative
    # plans a BroadcastNestedLoopJoin, which the scale smokes' blanket
    # rule bans — this gate FAILED the 10x smoke on exactly that node
    # before the switch)
    n = int(c12.agg(F.sum("cxy")).collect()[0][0])
    return (
        c12.where(F.col("cxy") >= min_count)
        .join(c1, "w1")
        .join(c2, "w2")
        .select(
            "w1", "w2",
            F.col("cxy").cast("long").alias("cxy"),
            # pmi_e6_expr owns the operand-first double casts (the
            # long×long count-product overflow class)
            pmi_e6_expr(
                F.col("cxy"), F.col("cx"), F.col("cy"), F.lit(n)
            ).alias("pmi_e6"),
        )
    )


def text_pmi_bigrams(spark, sf_dir):
    """Gate: PMI collocations over the documents corpus, support >= 5."""
    return pmi_bigrams(load_table(spark, "documents", sf_dir))


TEXTSTATS_QUERIES["text_pmi_bigrams"] = text_pmi_bigrams
TEXTSTATS_ORACLE["text_pmi_bigrams"] = (
    "WITH toks AS ("
    "  SELECT list_filter(string_split_regex(lower(trim(text)), "
    "    '\\s+'), x -> x <> '') AS l "
    "  FROM documents), "
    "st AS ("
    "  SELECT l, UNNEST(range(1, len(l))) AS i "
    "  FROM toks WHERE len(l) >= 2), "
    "bg AS (SELECT l[i] AS w1, l[i + 1] AS w2 FROM st), "
    "c12 AS (SELECT w1, w2, COUNT(*) AS cxy FROM bg GROUP BY 1, 2), "
    "c1 AS (SELECT w1, CAST(SUM(cxy) AS BIGINT) AS cx FROM c12 GROUP BY 1), "
    "c2 AS (SELECT w2, CAST(SUM(cxy) AS BIGINT) AS cy FROM c12 GROUP BY 1), "
    "n AS (SELECT CAST(SUM(cxy) AS BIGINT) AS n FROM c12) "
    "SELECT w1, w2, CAST(cxy AS BIGINT) AS cxy, "
    "  CAST(FLOOR(1000000 * LN("
    "    (CAST(cxy AS DOUBLE) * n) / (CAST(cx AS DOUBLE) * cy))) "
    "    AS BIGINT) AS pmi_e6 "
    "FROM c12 JOIN c1 USING (w1) JOIN c2 USING (w2), n "
    "WHERE cxy >= 5"
)


# --------------------------------------------------------------------------
# sentence segmentation stats (readability / boilerplate features)
# --------------------------------------------------------------------------

def sentence_stats(docs: DataFrame) -> DataFrame:
    """Per-document sentence segmentation stats — the readability
    features (sentence count, mean words per sentence, longest
    sentence) under fluency filters and boilerplate screens: terminator
    split on [.!?]+, empty segments dropped, words = whitespace tokens
    per segment. All expression-level (split + transform + filter —
    whole-stage codegen, no UDF); the mean is the only float, floored
    to 4dp (the _trunc4 engine-parity rule). Documents without a
    terminator count as ONE sentence (the whole text).

    Scale shape: map-only."""
    segs = sentences("text")
    words_per = F.transform(segs, lambda s: F.size(tokens(s, lower=False)))
    n_sent = F.size(segs)
    n_words = F.aggregate(
        words_per, F.lit(0), lambda acc, v: acc + v
    )
    has_sent = n_sent > 0
    return docs.select(
        "doc_id",
        n_sent.cast("long").alias("n_sentences"),
        n_words.cast("long").alias("n_seg_words"),
        F.when(has_sent, _trunc4(n_words.cast("double") / n_sent))
        .otherwise(None).alias("words_per_sentence"),
        F.when(
            has_sent, F.array_max(words_per).cast("long")
        ).otherwise(None).alias("max_sentence_words"),
    )


def text_sentence_stats(spark, sf_dir):
    """Gate: per-doc sentence segmentation statistics."""
    return sentence_stats(load_table(spark, "documents", sf_dir))


TEXTSTATS_QUERIES["text_sentence_stats"] = text_sentence_stats
TEXTSTATS_ORACLE["text_sentence_stats"] = (
    "WITH segs AS ("
    "  SELECT doc_id, list_filter(list_transform("
    "    string_split_regex(text, '[.!?]+'), s -> trim(s)), "
    "    s -> s <> '') AS sg "
    "  FROM documents), "
    "wp AS ("
    "  SELECT doc_id, sg, list_transform(sg, "
    "    s -> len(string_split_regex(s, '\\s+'))) AS w "
    "  FROM segs) "
    "SELECT doc_id, CAST(len(sg) AS BIGINT) AS n_sentences, "
    "  CAST(COALESCE(list_sum(w), 0) AS BIGINT) AS n_seg_words, "
    "  CASE WHEN len(sg) > 0 THEN "
    "    FLOOR(CAST(list_sum(w) AS DOUBLE) / len(sg) * 10000) / 10000 "
    "    END AS words_per_sentence, "
    "  CASE WHEN len(sg) > 0 THEN CAST(list_max(w) AS BIGINT) "
    "    END AS max_sentence_words "
    "FROM wp"
)


# --------------------------------------------------------------------------
# boilerplate prefix detection (repeated leading n-grams per source)
# --------------------------------------------------------------------------

def boilerplate_prefixes(docs: DataFrame, n_tokens: int = 3) -> DataFrame:
    """Dominant leading n-gram per source — the boilerplate-header
    detector a scrape cleanup runs first: a source whose most common
    first-3-token prefix covers a large share of its documents opens
    with template text ("subscribe to our newsletter"), not content.
    Emits each source's TOP prefix with its count and e2 share — the
    top-1 form is never degenerate at any sf (a fixed threshold emitted
    ZERO rows on this corpus: max trigram share 8% — the round-7
    degeneracy audit's lesson applied at design time), and the share
    column IS the threshold decision, made by the reader. Ties break
    deterministically (count desc, prefix asc). Tokenization matches
    the corpus family; docs shorter than n_tokens contribute their
    whole text.

    Scale shape: map-side prefix extraction, one (source, prefix)
    count, one rank window over the counts table (bounded by distinct
    prefixes per source)."""
    from pyspark.sql import Window

    toks = tokens("text", drop_empty=True)
    prefix = F.concat_ws(" ", F.slice(toks, 1, n_tokens))
    counts = (
        docs.select("source", prefix.alias("prefix"))
        .groupBy("source", "prefix")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w = Window.partitionBy("source")
    rk = Window.partitionBy("source").orderBy(
        F.col("n_docs").desc(), F.col("prefix")
    )
    return (
        counts.withColumn("tot", F.sum("n_docs").over(w))
        .withColumn("rk", F.row_number().over(rk))
        .where(F.col("rk") == 1)
        .select(
            "source", "prefix",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.floor(F.lit(10_000) * F.col("n_docs") / F.col("tot"))
            .cast("long").alias("pct_e2"),
        )
    )


def text_boilerplate_prefixes(spark, sf_dir):
    """Gate: each source's dominant leading trigram with its share."""
    return boilerplate_prefixes(load_table(spark, "documents", sf_dir))


TEXTSTATS_QUERIES["text_boilerplate_prefixes"] = text_boilerplate_prefixes
TEXTSTATS_ORACLE["text_boilerplate_prefixes"] = (
    "WITH toks AS ("
    "  SELECT source, list_filter(string_split_regex(lower(trim(text)), "
    "    '\\s+'), x -> x <> '') AS l "
    "  FROM documents), "
    "pref AS ("
    "  SELECT source, array_to_string(l[1:3], ' ') AS prefix FROM toks), "
    "counts AS ("
    "  SELECT source, prefix, COUNT(*) AS n_docs "
    "  FROM pref GROUP BY 1, 2), "
    "tot AS ("
    "  SELECT *, SUM(n_docs) OVER (PARTITION BY source) AS t, "
    "    ROW_NUMBER() OVER (PARTITION BY source "
    "      ORDER BY n_docs DESC, prefix) AS rk "
    "  FROM counts) "
    "SELECT source, prefix, CAST(n_docs AS BIGINT) AS n_docs, "
    "  CAST(FLOOR(10000 * n_docs / t) AS BIGINT) AS pct_e2 "
    "FROM tot WHERE rk = 1"
)


# --------------------------------------------------------------------------
# character-trigram entropy (gibberish / fluency signal)
# --------------------------------------------------------------------------

def trigram_entropy(docs: DataFrame) -> DataFrame:
    """Per-document character-trigram Shannon entropy — the classic
    gibberish detector in quality filtering: natural prose concentrates
    probability mass on frequent trigrams (lower entropy per distinct
    gram than keyboard mash or base64 blobs), so the pair
    (entropy, distinct share) separates fluent text from noise without
    any language model. H = ln n − (Σ c·ln c)/n over the doc's
    overlapping lowercased trigram counts.

    Engine-exactness (q127's per-term discipline): each distinct gram's
    contribution floor(1e6·c·ln c / n) quantizes to integer micro-nats
    BEFORE the per-doc sum — a raw double Σ c·ln c is order-dependent
    across engines — and entropy_e6 = floor(1e6·ln n) − that sum, a
    deterministic integer both engines reproduce bit-for-bit (c and n
    are exact ints, ln/floor are IEEE, no cross-term accumulation).

    Scale shape: one map-side trigram explode, one (doc, gram) count
    aggregate (map-combinable), one per-doc rollup. Output is one row
    per doc with ≥1 trigram.

    Round-13 optimization (guide §1.2 per-task work; the PERF_NOTES
    text_dup_ngrams lesson): the old form exploded
    ``transform(sequence(...), i -> substr(lower(text), i, 3))`` — the
    lambda inlines ``lower(text)`` into EVERY element, so an n-char doc
    lowercased its whole text n times (quadratic per doc; HOFs run
    interpreted, no subexpression elimination). Now the position
    sequence is exploded FIRST and ``substring(s, i, 3)`` projects from
    the Generate output attribute, which is materialized once per doc
    (the chrf_pairs shape) — sf0.1: 5.0 s → ~1.4 s, identical grams."""
    t = F.lower(F.col("text"))
    # the length guard is load-bearing: Spark's sequence(1, 0) generates
    # a DESCENDING [1, 0], not an empty array, so sub-trigram docs must
    # be excluded before the sequence is built (DuckDB's range(1, 1) is
    # empty — the engines disagree exactly on this boundary)
    grams = (
        docs.where(F.length(t) >= 3)
        .select("doc_id", t.alias("s"))
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.length("s") - 2)
            ).alias("i"),
            "s",
        )
        .select("doc_id", F.expr("substring(s, i, 3)").alias("g"))
    )
    counts = grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    from pyspark.sql import Window

    # n rides a doc-partition window instead of a groupBy + join-back:
    # the window's exchange on doc_id is then REUSED by the final
    # per-doc aggregate (same ClusteredDistribution), so the whole gate
    # is two shuffles — (doc, gram) counts, then doc — where the join
    # form planned six (plan-report-driven rewrite)
    wd = Window.partitionBy("doc_id")
    withn = counts.select(
        "doc_id", "c", F.sum("c").over(wd).alias("n")
    )
    return (
        withn.groupBy("doc_id")
        .agg(
            F.max("n").cast("long").alias("n_trigrams"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.sum(
                F.floor(
                    F.lit(1_000_000)
                    * F.col("c").cast("double")
                    * F.log(F.col("c").cast("double"))
                    / F.col("n")
                )
            ).alias("s_e6"),
        )
        .select(
            "doc_id",
            "n_trigrams",
            "n_distinct",
            (
                F.floor(
                    F.lit(1_000_000)
                    * F.log(F.col("n_trigrams").cast("double"))
                )
                - F.col("s_e6")
            ).cast("long").alias("entropy_e6"),
        )
    )


def text_trigram_entropy(spark, sf_dir):
    """Gate: per-doc character-trigram entropy over documents."""
    return trigram_entropy(load_table(spark, "documents", sf_dir))


TEXTSTATS_QUERIES["text_trigram_entropy"] = text_trigram_entropy
TEXTSTATS_ORACLE["text_trigram_entropy"] = (
    "WITH grams AS ("
    "  SELECT doc_id, UNNEST([substr(lower(text), i, 3) "
    "    FOR i IN range(1, length(text) - 1)]) AS g "
    "  FROM documents WHERE length(text) >= 3), "
    "counts AS ("
    "  SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY 1, 2), "
    "per_doc AS ("
    "  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n, "
    "    CAST(COUNT(*) AS BIGINT) AS n_distinct "
    "  FROM counts GROUP BY 1), "
    "terms AS ("
    "  SELECT counts.doc_id, "
    "    CAST(SUM(FLOOR(1000000 * CAST(c AS DOUBLE) "
    "      * LN(CAST(c AS DOUBLE)) / n)) AS BIGINT) AS s_e6 "
    "  FROM counts JOIN per_doc USING (doc_id) GROUP BY 1) "
    "SELECT doc_id, n AS n_trigrams, n_distinct, "
    "  CAST(FLOOR(1000000 * LN(CAST(n AS DOUBLE))) - s_e6 AS BIGINT) "
    "    AS entropy_e6 "
    "FROM per_doc JOIN terms USING (doc_id)"
)


# --------------------------------------------------------------------------
# top-N vocabulary coverage curve (tokenizer sizing readout)
# --------------------------------------------------------------------------

def vocab_coverage(docs: DataFrame, sizes=(5, 10, 20)) -> DataFrame:
    """Token-coverage curve: for each candidate vocabulary size N, the
    share of ALL corpus token occurrences covered by the N most frequent
    words — THE tokenizer-budget readout (how big must the vocab be
    before OOV is negligible?) and the Zipf sanity check next to
    text_zipf_fit. Exact integers end-to-end: word counts, a frequency-
    rank window over the VOCABULARY (bounded by distinct words, not
    corpus rows — the prefix_filter_pairs rank argument), cumulative
    sums over the same bounded table, and the share emitted as an
    e6-floored ratio of two exact longs. Deterministic rank tie-break
    by word.

    Scale shape: one map-side tokenize/explode, one map-combinable
    word-count aggregate, then every window runs over the vocab table
    (the documented single-reducer vocabulary window — the
    prefix_filter_pairs rank precedent; at open-web vocab swap in
    distributed_prefix_sum keyed by count bucket). Output:
    len(sizes) rows + the full-vocab anchor."""
    from pyspark.sql import Window

    toks = docs.select(
        F.explode(tokens("text", drop_empty=True)).alias("w")
    )
    counts = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    w_rank = Window.orderBy(F.col("c").desc(), F.col("w").asc())
    w_cum = w_rank.rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    ranked = counts.select(
        F.row_number().over(w_rank).alias("rk"),
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("total"),
        F.count(F.lit(1)).over(w_all).alias("n_vocab"),
    )
    picks = ranked.where(
        F.col("rk").isin(*[int(n) for n in sizes])
        | (F.col("rk") == F.col("n_vocab"))  # the full-vocab anchor row
    )
    return picks.select(
        F.col("rk").cast("long").alias("vocab_size"),
        F.col("cum").cast("long").alias("covered_tokens"),
        F.col("total").cast("long").alias("total_tokens"),
        F.floor(
            F.lit(1_000_000.0) * F.col("cum") / F.col("total")
        ).cast("long").alias("coverage_e6"),
    )


def text_vocab_coverage(spark, sf_dir):
    """Gate: coverage at N in {5, 10, 20} plus the full-vocab anchor.
    The fixture corpus draws from a ~31-word vocabulary, so these sizes
    actually SLICE the curve (a 100/1k/10k ladder collapsed to the
    anchor row alone — the zero-row-degeneracy lesson applied to a
    curve); a real tokenizer run passes sizes=(1000, 10000, 100000)."""
    return vocab_coverage(load_table(spark, "documents", sf_dir))


TEXTSTATS_QUERIES["text_vocab_coverage"] = text_vocab_coverage
TEXTSTATS_ORACLE["text_vocab_coverage"] = (
    "WITH toks AS ("
    "  SELECT UNNEST(list_filter(string_split_regex(lower(trim(text)), "
    "    '\\s+'), x -> x <> '')) AS w "
    "  FROM documents), "
    "counts AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY 1), "
    "ranked AS ("
    "  SELECT ROW_NUMBER() OVER (ORDER BY c DESC, w ASC) AS rk, "
    "    SUM(c) OVER (ORDER BY c DESC, w ASC "
    "      ROWS UNBOUNDED PRECEDING) AS cum, "
    "    SUM(c) OVER () AS total, COUNT(*) OVER () AS n_vocab "
    "  FROM counts) "
    "SELECT CAST(rk AS BIGINT) AS vocab_size, "
    "  CAST(cum AS BIGINT) AS covered_tokens, "
    "  CAST(total AS BIGINT) AS total_tokens, "
    "  CAST(FLOOR(1000000.0 * cum / total) AS BIGINT) AS coverage_e6 "
    "FROM ranked WHERE rk IN (5, 10, 20) OR rk = n_vocab"
)


# --------------------------------------------------------------------------
# BM25 ranked retrieval
# --------------------------------------------------------------------------

#: Okapi BM25 parameters (the universal defaults) and the fixture query.
#: k1/b as exact double literals; the three query terms all exist in the
#: fixture vocabulary at every sf (df ~380/500 docs) so the gate output
#: is non-degenerate everywhere.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("spark", "vector", "stream")
BM25_TOP_K = 10


def bm25_topk(
    docs: DataFrame,
    query: tuple[str, ...] = BM25_QUERY,
    top_k: int = BM25_TOP_K,
) -> DataFrame:
    """Okapi BM25 ranked retrieval — THE lexical scoring function every
    search/RAG stack runs before (or fused with) vector retrieval:
    score(q,d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|d|/avgdl)),
    idf(t) = ln(1 + (N−df+0.5)/(df+0.5)) (the Lucene non-negative form).

    Exactness: tf/df/|d|/N are exact longs; each per-(doc,term) score is
    ONE double expression (tree written identically in the oracle, so
    IEEE evaluation is bit-equal) floored to integer MICRO-points, and
    the per-doc sum then runs over exact integers — float addition
    order can never diverge the engines (the text_bigram_lm posture).
    Ties break on doc_id; rank is a row_number so top-k is total.

    Scale shape: the term filter prunes the posting explode to the
    query's terms BEFORE any shuffle (predicate pushdown through
    explode); df/N/avgdl are a ~|q|-row and a 1-row aggregate, both
    broadcast; one shuffle on (doc, term), one on doc, and the global
    top-k compiles to TakeOrderedAndProject (partial top-k merge, no
    total sort). At 100 TB the tf table IS the inverted index — build
    it once, score any query with a broadcast join against it."""
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id",
        F.explode(tokens("text", drop_empty=True)).alias("w"),
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").alias("tot"),
    )
    tf = (
        toks.where(F.col("w").isin(*query))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
    )
    avgdl = F.col("tot").cast("double") / F.col("n").cast("double")
    idf = F.log(
        F.lit(1.0)
        + ((F.col("n") - F.col("df")).cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    tfd = F.col("tf").cast("double")
    den = tfd + F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl").cast("double") / avgdl
    )
    s_micro = F.floor(
        F.lit(1_000_000.0) * idf * (tfd * F.lit(BM25_K1 + 1.0)) / den
    )
    per_doc = (
        scored.select("doc_id", s_micro.alias("s"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("terms_hit"),
            F.sum("s").cast("long").alias("bm25_micro"),
        )
    )
    w = Window.orderBy(F.col("bm25_micro").desc(), F.col("doc_id").asc())
    return (
        per_doc.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= top_k)
        .select("rk", "doc_id", "terms_hit", "bm25_micro")
    )


def text_bm25_topk(spark, sf_dir):
    """Gate: BM25 top-10 for the fixed 3-term query."""
    return bm25_topk(load_table(spark, "documents", sf_dir))


TEXTSTATS_QUERIES["text_bm25_topk"] = text_bm25_topk
TEXTSTATS_ORACLE["text_bm25_topk"] = (
    "WITH toks AS ("
    "  SELECT doc_id, UNNEST(list_filter(string_split_regex("
    "    lower(trim(text)), '\\s+'), x -> x <> '')) AS w "
    "  FROM documents), "
    "dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1), "
    "corpus AS (SELECT COUNT(*) AS n, SUM(dl) AS tot FROM dl), "
    "tf AS ("
    "  SELECT doc_id, w, COUNT(*) AS tf FROM toks "
    f"  WHERE w IN ('{BM25_QUERY[0]}', '{BM25_QUERY[1]}', '{BM25_QUERY[2]}') "
    "  GROUP BY 1, 2), "
    "df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1), "
    "scored AS ("
    "  SELECT tf.doc_id, FLOOR(1000000.0 "
    "    * LN(1.0 + (CAST(n - df AS DOUBLE) + 0.5) "
    "      / (CAST(df AS DOUBLE) + 0.5)) "
    f"    * (CAST(tf AS DOUBLE) * {BM25_K1 + 1.0}) "
    f"    / (CAST(tf AS DOUBLE) + {BM25_K1} * ({1.0 - BM25_B} "
    f"      + {BM25_B} * CAST(dl AS DOUBLE) "
    "        / (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE))))) AS s "
    "  FROM tf JOIN df USING (w) JOIN dl USING (doc_id), corpus), "
    "per_doc AS ("
    "  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS terms_hit, "
    "    CAST(SUM(s) AS BIGINT) AS bm25_micro "
    "  FROM scored GROUP BY 1) "
    "SELECT CAST(ROW_NUMBER() OVER (ORDER BY bm25_micro DESC, doc_id) "
    "  AS BIGINT) AS rk, doc_id, terms_hit, bm25_micro "
    f"FROM per_doc QUALIFY rk <= {BM25_TOP_K}"
)


# --------------------------------------------------------------------------
# Flesch reading ease (per-source pooled readability score)
# --------------------------------------------------------------------------

def readability_by_source(docs: DataFrame) -> DataFrame:
    """Flesch reading ease per source, pooled — the classic readability
    gate a corpus-quality pipeline scores sources with (low Flesch =
    academic/legalese, high = conversational; extreme values flag
    boilerplate or gibberish): 206.835 − 1.015·(W/S) − 84.6·(Y/W) over
    pooled words W, sentences S, and syllables Y. Syllables use the
    standard vowel-group estimate (runs of [aeiouy]+ in lowercase —
    a vowel run never spans whitespace, so the per-doc total equals the
    per-word sum without tokenizing twice); sentences reuse
    sentence_stats' terminator rule ([.!?]+ segments, empties dropped,
    terminator-free docs count as one).

    Exactness: W/S/Y are exact longs; each scaled coefficient term is
    an exact integer floor-div (1.015·(W/S)·1000 = 1015·W div S;
    84.6·(Y/W)·1000 = 84600·Y div W), so flesch_e3 never touches a
    float — engine divergence is impossible, and the defined statistic
    differs from true Flesch·1000 by at most 2 floor units.

    Scale shape: map-side per-doc counting (pure expressions, no UDF)
    into ONE map-combinable aggregate — one shuffle to ≤|sources|
    rows."""
    segs = sentences("text")
    words = tokens("text", drop_empty=True)
    syl = F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), 0))
    g = (
        docs.select(
            "source",
            F.size(words).cast("long").alias("w"),
            F.size(segs).cast("long").alias("s"),
            syl.cast("long").alias("y"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("w").cast("long").alias("words"),
            F.sum("s").cast("long").alias("sentences"),
            F.sum("y").cast("long").alias("syllables"),
        )
    )
    return g.select(
        "source", "n_docs", "words", "sentences", "syllables",
        (
            F.lit(206835)
            - F.expr("(1015 * words) div sentences")
            - F.expr("(84600 * syllables) div words")
        ).cast("long").alias("flesch_e3"),
    )


def text_readability(spark, sf_dir):
    """Gate: pooled Flesch reading ease per source."""
    return readability_by_source(load_table(spark, "documents", sf_dir))


TEXTSTATS_QUERIES["text_readability"] = text_readability
TEXTSTATS_ORACLE["text_readability"] = (
    "WITH d AS ("
    "  SELECT source, "
    "    len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), "
    "      x -> x <> '')) AS w, "
    "    len(list_filter(list_transform(string_split_regex(text, "
    "      '[.!?]+'), s -> trim(s)), s -> s <> '')) AS s, "
    "    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS y "
    "  FROM documents), "
    "g AS ("
    "  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, "
    "    CAST(SUM(w) AS BIGINT) AS words, "
    "    CAST(SUM(s) AS BIGINT) AS sentences, "
    "    CAST(SUM(y) AS BIGINT) AS syllables "
    "  FROM d GROUP BY 1) "
    "SELECT source, n_docs, words, sentences, syllables, "
    "  CAST(206835 - (1015 * words) // sentences "
    "    - (84600 * syllables) // words AS BIGINT) AS flesch_e3 "
    "FROM g"
)


# --------------------------------------------------------------------------
# Jensen-Shannon divergence between source unigram distributions
# --------------------------------------------------------------------------

def js_divergence_sources(docs: DataFrame) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between per-source unigram
    distributions — the symmetric, bounded (≤ ln 2) corpus-drift
    readout: which sources speak the same language-of-tokens and which
    are topical outliers? The KL gate (q141) compares one distribution
    to a reference; JSD is the all-pairs mixture form
    ½·KL(p‖m) + ½·KL(q‖m), m = (p+q)/2, the measure behind corpus
    mixing and GAN-style distribution matching.

    Exactness: counts and totals are exact longs; each word's
    contribution ½·(p·ln(p/m) + q·ln(q/m)) is ONE double expression
    over exact operands, floored to e9 integer units (terms can be
    NEGATIVE — a word under-represented in p pulls its p-term below
    zero; FLOOR on negatives is identical in both engines), and the
    per-pair sum runs on exact longs — float addition order cannot
    diverge engines (the ANOVA/text-family per-term-floor posture).

    Scale shape: one (source, word) count aggregate, a ≤|sources|²/2
    pair grid crossed with the global vocab (at web scale you'd first
    threshold to the top-K vocab — the grid is the documented scale
    bound), two hash joins keyed on (source, word) — the count table
    is vocab-sized, so these SHUFFLE rather than broadcast; AQE
    broadcasts them at fixture size on its own — and one sum to
    |pairs| rows. The corpus is scanned once."""
    toks = docs.select(
        "source",
        F.explode(tokens("text", drop_empty=True)).alias("w"),
    )
    cnt = toks.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = cnt.groupBy("source").agg(F.sum("c").cast("long").alias("t"))
    srcs = tot.select("source", "t")
    pairs = (
        srcs.alias("a")
        .crossJoin(srcs.alias("b"))
        .where(F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("s1"), F.col("a.t").alias("t1"),
            F.col("b.source").alias("s2"), F.col("b.t").alias("t2"),
        )
    )
    vocab = cnt.select("w").distinct()
    grid = pairs.crossJoin(vocab)
    j = (
        grid.join(
            cnt.select(
                F.col("source").alias("s1"), "w", F.col("c").alias("c1")
            ),
            ["s1", "w"], "left",
        )
        .join(
            cnt.select(
                F.col("source").alias("s2"), "w", F.col("c").alias("c2")
            ),
            ["s2", "w"], "left",
        )
        .select(
            "s1", "s2",
            F.coalesce(F.col("c1"), F.lit(0)).alias("c1"),
            F.coalesce(F.col("c2"), F.lit(0)).alias("c2"),
            "t1", "t2",
        )
        .where((F.col("c1") > 0) | (F.col("c2") > 0))
    )
    p = F.col("c1").cast("double") / F.col("t1").cast("double")
    q = F.col("c2").cast("double") / F.col("t2").cast("double")
    m = (p + q) / F.lit(2.0)
    term = (
        F.when(F.col("c1") > 0, p * F.log(p / m)).otherwise(F.lit(0.0))
        + F.when(F.col("c2") > 0, q * F.log(q / m)).otherwise(F.lit(0.0))
    ) / F.lit(2.0)
    return (
        j.select(
            "s1", "s2",
            F.floor(F.lit(1_000_000_000.0) * term).cast("long").alias("t_e9"),
        )
        .groupBy("s1", "s2")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words_union"),
            F.sum("t_e9").cast("long").alias("jsd_e9"),
        )
    )


def text_js_divergence(spark, sf_dir):
    """Gate: pairwise source-distribution JSD over the corpus."""
    return js_divergence_sources(load_table(spark, "documents", sf_dir))


TEXTSTATS_QUERIES["text_js_divergence"] = text_js_divergence
TEXTSTATS_ORACLE["text_js_divergence"] = (
    "WITH toks AS ("
    "  SELECT source, unnest(list_filter(string_split_regex("
    "    lower(trim(text)), '\\s+'), x -> x <> '')) AS w "
    "  FROM documents), "
    "cnt AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c "
    "  FROM toks GROUP BY 1, 2), "
    "tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS t "
    "  FROM cnt GROUP BY 1), "
    "pairs AS ("
    "  SELECT a.source AS s1, a.t AS t1, b.source AS s2, b.t AS t2 "
    "  FROM tot a, tot b WHERE a.source < b.source), "
    "vocab AS (SELECT DISTINCT w FROM cnt), "
    "j AS ("
    "  SELECT s1, s2, COALESCE(x.c, 0) AS c1, COALESCE(y.c, 0) AS c2, "
    "    t1, t2 "
    "  FROM pairs CROSS JOIN vocab v "
    "  LEFT JOIN cnt x ON x.source = s1 AND x.w = v.w "
    "  LEFT JOIN cnt y ON y.source = s2 AND y.w = v.w "
    "  WHERE COALESCE(x.c, 0) > 0 OR COALESCE(y.c, 0) > 0), "
    "terms AS ("
    "  SELECT s1, s2, CAST(FLOOR(1000000000.0 * ("
    "    CASE WHEN c1 > 0 THEN (CAST(c1 AS DOUBLE) / CAST(t1 AS DOUBLE)) "
    "      * LN((CAST(c1 AS DOUBLE) / CAST(t1 AS DOUBLE)) "
    "        / ((CAST(c1 AS DOUBLE) / CAST(t1 AS DOUBLE) "
    "           + CAST(c2 AS DOUBLE) / CAST(t2 AS DOUBLE)) / 2.0)) "
    "      ELSE 0.0 END "
    "    + CASE WHEN c2 > 0 THEN (CAST(c2 AS DOUBLE) / CAST(t2 AS DOUBLE)) "
    "      * LN((CAST(c2 AS DOUBLE) / CAST(t2 AS DOUBLE)) "
    "        / ((CAST(c1 AS DOUBLE) / CAST(t1 AS DOUBLE) "
    "           + CAST(c2 AS DOUBLE) / CAST(t2 AS DOUBLE)) / 2.0)) "
    "      ELSE 0.0 END) / 2.0) AS BIGINT) AS t_e9 "
    "  FROM j) "
    "SELECT s1, s2, CAST(COUNT(*) AS BIGINT) AS n_words_union, "
    "  CAST(SUM(t_e9) AS BIGINT) AS jsd_e9 "
    "FROM terms GROUP BY 1, 2"
)


# --------------------------------------------------------------------------
# Heaps-law vocabulary growth curve
# --------------------------------------------------------------------------

#: corpus-prefix checkpoints (by doc_id order) for the growth curve —
#: sized to slice the fixture corpus (500 docs at every sf), the
#: text_vocab_coverage ladder lesson.
HEAPS_CHECKPOINTS = (50, 100, 200, 300, 400, 500)


def heaps_curve(docs: DataFrame) -> DataFrame:
    """Vocabulary growth curve + local Heaps exponent — the OTHER
    tokenizer-sizing readout next to text_vocab_coverage (how much of
    the corpus the top-N covers) and text_zipf_fit (how frequency
    decays with rank): Heaps' law V(n) ≈ K·n^β says how fast NEW types
    keep appearing as the corpus grows, which is what decides whether
    a vocabulary budget will saturate or keep bleeding OOV as you
    scale 100×. The growth unit is the word TRIGRAM: this fixture's
    closed ~31-word vocabulary saturates before the first checkpoint
    (and bigrams fill their ~31² space by doc 50 — both measured
    before coding, the vocab_coverage degeneracy lesson), while
    trigram types grow 2.4k → 16.2k across the checkpoints, an actual
    curve. Emits V (distinct trigrams) and T (trigram occurrences) at
    each corpus-prefix checkpoint plus the local β between consecutive
    checkpoints (Δln V / Δln T).

    Exactness: a word's contribution to every checkpoint is decided by
    its FIRST document (one min-aggregate — the curve never rescans
    the corpus per checkpoint), counts are exact longs, and β floors
    to e6 from one double expression over exact operands (ln ratios —
    the engines' libm agreement already load-bearing in the
    entropy/KL family).

    Scale shape: one (word → min doc, count) aggregate, a broadcast
    |checkpoints|-row spine joined by range predicate against the
    TINY first-occurrence histogram (grouped to ≤ checkpoints cells
    first), windows over the checkpoint table only."""
    from pyspark.sql import Window

    t = tokens("text", drop_empty=True)
    n = F.size(t)
    toks = docs.where(n >= 3).select(
        "doc_id", F.explode(ngrams(t, 3)).alias("w")
    )
    firsts = toks.groupBy("w").agg(
        F.min("doc_id").alias("first_doc"),
        F.count(F.lit(1)).alias("occ"),
    )
    spine = F.broadcast(
        local_df(
            SparkSession.getActiveSession(),
            [(int(c),) for c in HEAPS_CHECKPOINTS], "c long"
        )
    )
    # per-checkpoint totals: new types whose first doc precedes c, and
    # token occurrences from docs preceding c (occ splits by doc, so
    # token counts come from the doc-level rollup, not `firsts`)
    doc_tok = docs.where(n >= 3).select(
        "doc_id", F.greatest(n - 2, F.lit(0)).cast("long").alias("nt")
    )
    v = (
        firsts.join(spine, F.col("first_doc") < F.col("c"))
        .groupBy("c")
        .agg(F.count(F.lit(1)).cast("long").alias("vocab"))
    )
    # NOT named `t`: that name is the token-array Column above, still
    # live inside the doc_tok closure (round-10 ADVICE — rebinding it
    # to a DataFrame mid-function was reorder-fragile)
    tok_totals = (
        doc_tok.join(spine, F.col("doc_id") < F.col("c"))
        .groupBy("c")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nt").cast("long").alias("tokens"),
        )
    )
    w = Window.orderBy("c")
    joined = tok_totals.join(v, "c").select(
        "c", "n_docs", "tokens", "vocab",
        F.lag("tokens").over(w).alias("pt"),
        F.lag("vocab").over(w).alias("pv"),
    )
    beta = (
        (F.log(F.col("vocab").cast("double")) - F.log(F.col("pv").cast("double")))
        / (F.log(F.col("tokens").cast("double")) - F.log(F.col("pt").cast("double")))
    )
    return joined.select(
        "c", "n_docs", "tokens", "vocab",
        F.when(
            F.col("pv").isNotNull() & (F.col("vocab") != F.col("pv")),
            F.floor(F.lit(1_000_000.0) * beta),
        ).cast("long").alias("beta_e6"),
    )


def text_heaps_curve(spark, sf_dir):
    """Gate: Heaps vocabulary growth at 6 corpus-prefix checkpoints."""
    return heaps_curve(load_table(spark, "documents", sf_dir))


TEXTSTATS_QUERIES["text_heaps_curve"] = text_heaps_curve
TEXTSTATS_ORACLE["text_heaps_curve"] = (
    "WITH tk AS ("
    "  SELECT doc_id, list_filter(string_split_regex("
    "    lower(trim(text)), '\\s+'), x -> x <> '') AS t "
    "  FROM documents), "
    "toks AS ("
    "  SELECT doc_id, unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] "
    "    FOR i IN range(1, len(t) - 1)]) AS w "
    "  FROM tk WHERE len(t) >= 3), "
    "firsts AS ("
    "  SELECT w, MIN(doc_id) AS first_doc FROM toks GROUP BY 1), "
    "doc_tok AS ("
    "  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nt "
    "  FROM toks GROUP BY 1), "
    "spine AS (SELECT UNNEST(["
    + ", ".join(str(c) for c in HEAPS_CHECKPOINTS)
    + "]) AS c), "
    "v AS ("
    "  SELECT c, CAST(COUNT(*) AS BIGINT) AS vocab "
    "  FROM firsts JOIN spine ON first_doc < c GROUP BY 1), "
    "t AS ("
    "  SELECT c, CAST(COUNT(*) AS BIGINT) AS n_docs, "
    "    CAST(SUM(nt) AS BIGINT) AS tokens "
    "  FROM doc_tok JOIN spine ON doc_id < c GROUP BY 1), "
    "j AS ("
    "  SELECT t.c, n_docs, tokens, vocab, "
    "    LAG(tokens) OVER (ORDER BY t.c) AS pt, "
    "    LAG(vocab) OVER (ORDER BY t.c) AS pv "
    "  FROM t JOIN v ON t.c = v.c) "
    "SELECT CAST(c AS BIGINT) AS c, n_docs, tokens, vocab, "
    "  CASE WHEN pv IS NOT NULL AND vocab != pv THEN "
    "    CAST(FLOOR(1000000.0 * ((LN(CAST(vocab AS DOUBLE)) "
    "      - LN(CAST(pv AS DOUBLE))) / (LN(CAST(tokens AS DOUBLE)) "
    "      - LN(CAST(pt AS DOUBLE))))) AS BIGINT) END AS beta_e6 "
    "FROM j"
)


# --------------------------------------------------------------------------
# duplicate word-5-gram fraction (Gopher repetition rule) — round 11
# --------------------------------------------------------------------------

DUP_NGRAM_N = 5


def dup_ngram_stats(docs: DataFrame) -> DataFrame:
    """Per-source duplicate word-5-gram fraction — Gopher's repetition
    rule family (Rae et al. 2021 table A1: "fraction of characters in
    duplicate n-grams") at the cross-DOCUMENT granularity, the
    boilerplate signal whole-document dedup can't see. (A
    sentence-level form was measured degenerate before coding: this
    fixture's texts carry no terminators, so terminator "sentences"
    are whole docs and all 500 are distinct — the vocab_coverage
    lesson. Word 5-grams duplicate at ~9 % here, an actual signal.)

    One explode → a 5-gram→distinct-doc-count aggregate (bounded by
    the distinct-n-gram vocabulary, map-side combinable) → joined
    back to the instance stream → per-source counts. An instance "is
    duplicate" when its 5-gram appears in MORE THAN ONE document
    corpus-wide, so cross-source boilerplate is charged to every
    source carrying it. dup_rate_e6 floors exactly (longs).

    Scale shape: the vocabulary aggregate is the same two-shuffle
    skinny-key plan the novelty/PMI family runs; the hottest n-gram
    is one vocabulary cell — no window, no driver state."""
    t = tokens("text", drop_empty=True)
    # Round-13 (guide §5): two materializations. (1) the token-array
    # table — the 5 shifted slices of ngrams each inline the tokenize
    # expression, so building grams from a STORED array tokenizes once
    # per doc instead of five times; (2) the exploded instance stream —
    # it feeds BOTH the vocabulary aggregate and the join-back, which
    # otherwise re-run the whole gram build.
    tk = truncate_lineage(
        docs.where(F.size(t) >= DUP_NGRAM_N)
        .select("doc_id", "source", t.alias("t"))
    )
    grams = ngrams(F.col("t"), DUP_NGRAM_N)
    inst = truncate_lineage(
        tk.select("doc_id", "source", F.explode(grams).alias("g"))
    )
    gram_docs = inst.groupBy("g").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    j = inst.join(gram_docs, "g")
    # count, sum of ints and div of longs are all bigint already
    agg = j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_ngrams"),
        F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)).alias("n_dup_instances"),
    )
    return agg.select(
        "source", "n_ngrams", "n_dup_instances",
        # exact floor: both operands long, quotient non-negative
        F.expr("(1000000 * n_dup_instances) div n_ngrams").alias("dup_rate_e6"),
    )


def text_dup_ngrams(spark, sf_dir):
    """Gate: per-source duplicate word-5-gram rates."""
    return dup_ngram_stats(load_table(spark, "documents", sf_dir))


TEXTSTATS_QUERIES["text_dup_ngrams"] = text_dup_ngrams
TEXTSTATS_ORACLE["text_dup_ngrams"] = (
    "WITH tk AS ("
    "  SELECT doc_id, source, list_filter(string_split_regex("
    "    lower(trim(text)), '\\s+'), x -> x <> '') AS t "
    "  FROM documents), "
    "inst AS ("
    "  SELECT doc_id, source, "
    "    unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' "
    "      || t[i+3] || ' ' || t[i+4] "
    f"      FOR i IN range(1, len(t) - {DUP_NGRAM_N - 2})]) AS g "
    f"  FROM tk WHERE len(t) >= {DUP_NGRAM_N}), "
    "gram_docs AS ("
    "  SELECT g, COUNT(DISTINCT doc_id) AS nd FROM inst GROUP BY g), "
    "agg AS ("
    "  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_ngrams, "
    "    CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) "
    "      AS n_dup_instances "
    "  FROM inst JOIN gram_docs USING (g) GROUP BY source) "
    "SELECT source, n_ngrams, n_dup_instances, "
    "  CAST((1000000 * n_dup_instances) // n_ngrams AS BIGINT) "
    "    AS dup_rate_e6 "
    "FROM agg"
)


# --------------------------------------------------------------------------
# RAKE keyword extraction (round 11)
# --------------------------------------------------------------------------

RAKE_TOP_K = 15


def rake_keywords(docs: DataFrame) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010 "Automatic Keyword
    Extraction from Individual Documents") over the corpus — the
    unsupervised keyword table a curation pipeline builds for topic
    routing and tag suggestion. Candidate phrases are maximal runs of
    NON-stopword tokens (the corpus STOPWORDS delimit); each word
    scores degree/frequency where freq counts its phrase occurrences
    and degree sums the lengths of the phrases it occurs in
    (co-occurrence degree including self); a phrase scores the sum of
    its members' word scores. All integer-exact: word score is
    (1e6·degree) div freq, phrase score sums those integers per
    occurrence, so identical phrase texts score identically and the
    DISTINCT collapse is well-defined.

    Scale shape: phrase islands via pos − row_number per doc (a
    per-doc window — parallel), ONE vocabulary-bounded word-stats
    aggregate, a broadcast-sized score lookup joined back, and a
    TakeOrderedAndProject top-K."""
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id",
        F.posexplode(tokens("text", drop_empty=True)).alias("pos", "w"),
    )
    nonstop = toks.where(~F.col("w").isin(*STOPWORDS))
    wnd = Window.partitionBy("doc_id").orderBy("pos")
    members = nonstop.withColumn(
        "grp", F.col("pos") - F.row_number().over(wnd)
    )
    phrases = (
        members.groupBy("doc_id", "grp")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda x: x.w,
            ).alias("words")
        )
        .select(
            "doc_id", "grp", "words", F.size("words").alias("plen")
        )
    )
    occ = phrases.select(F.explode("words").alias("w"), "plen")
    stats = occ.groupBy("w").agg(
        F.count(F.lit(1)).alias("freq"),
        F.sum("plen").alias("deg"),
    )
    scores = stats.select(
        "w",
        F.expr("(1000000 * deg) div freq").cast("long").alias("ws_e6"),
    )
    # score each DISTINCT phrase text once (stats above already counted
    # every occurrence; the phrase score is the sum of its members'
    # GLOBAL word scores — identical texts carry the same member
    # multiset, so distinct-before-scoring is exact, and a phrase
    # occurring 50 times scores the same as one occurring once, per
    # the published formulation)
    uniq = phrases.select("words", "plen").distinct()
    return (
        uniq.select(
            F.concat_ws(" ", "words").alias("phrase"),
            "plen",
            F.explode("words").alias("w"),
        )
        .join(F.broadcast(scores), "w")
        .groupBy("phrase", "plen")
        .agg(F.sum("ws_e6").cast("long").alias("score_e6"))
        .select(
            "phrase",
            F.col("plen").cast("long").alias("n_words"),
            "score_e6",
        )
        .orderBy(F.col("score_e6").desc(), F.col("phrase"))
        .limit(RAKE_TOP_K)
    )


def text_rake_keywords(spark, sf_dir):
    """Gate: corpus-wide RAKE keyword table, top-15 phrases."""
    return rake_keywords(load_table(spark, "documents", sf_dir))


_RAKE_STOP_SQL = ", ".join(f"'{s}'" for s in STOPWORDS)

TEXTSTATS_QUERIES["text_rake_keywords"] = text_rake_keywords
TEXTSTATS_ORACLE["text_rake_keywords"] = (
    "WITH tk AS ("
    "  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), "
    "    '\\s+'), x -> x <> '') AS l "
    "  FROM documents), "
    "toks AS ("
    "  SELECT doc_id, UNNEST(l) AS w, generate_subscripts(l, 1) AS pos "
    "  FROM tk), "
    "nonstop AS ("
    f"  SELECT * FROM toks WHERE w NOT IN ({_RAKE_STOP_SQL})), "
    "mem AS ("
    "  SELECT doc_id, w, pos, pos - ROW_NUMBER() OVER ("
    "    PARTITION BY doc_id ORDER BY pos) AS grp "
    "  FROM nonstop), "
    "phr AS ("
    "  SELECT doc_id, grp, LIST(w ORDER BY pos) AS words "
    "  FROM mem GROUP BY 1, 2), "
    "occ AS (SELECT UNNEST(words) AS w, len(words) AS plen FROM phr), "
    "scores AS ("
    "  SELECT w, CAST((1000000 * CAST(SUM(plen) AS BIGINT)) // COUNT(*) "
    "    AS BIGINT) AS ws_e6 "
    "  FROM occ GROUP BY w), "
    "uniq AS (SELECT DISTINCT words FROM phr), "
    "sc AS ("
    "  SELECT array_to_string(words, ' ') AS phrase, "
    "    len(words) AS plen, UNNEST(words) AS w "
    "  FROM uniq) "
    "SELECT phrase, CAST(plen AS BIGINT) AS n_words, "
    "  CAST(SUM(ws_e6) AS BIGINT) AS score_e6 "
    "FROM sc JOIN scores USING (w) "
    "GROUP BY phrase, plen "
    f"ORDER BY score_e6 DESC, phrase LIMIT {RAKE_TOP_K}"
)
