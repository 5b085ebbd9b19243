"""Text-generation evaluation metrics over document pairs — SQuAD-style
token F1, BLEU-2, and ROUGE-L.

These are the scoring kernels of an LLM eval harness (prediction vs
reference) run as a DATAFLOW: candidate pairs come from the same
linear stride rule as the dedup verify gates (doc a paired with a+1
for a % stride == 0 — n/stride pairs, never an all-pairs join), the
n-gram statistics are map-combinable aggregates, and every score is an
exact integer fraction floored to e6 after at most ONE IEEE float op
(the established engine-exactness discipline), so DuckDB hash-matches
the two set/multiset metrics. ROUGE-L's LCS is inherently an O(n·m)
dynamic program — not single-statement SQL — so that gate is
rows-only with a full pure-Python golden (the pipe_bpe_merges
contract).

At 100 TB the pair table is whatever the eval manifest says (model
outputs joined to references by example id); the stride rule here
stands in for that join and keeps every candidate set linear.

The reference has no eval tooling (it is a ~776-LoC tabular facade,
data-table.lisp:94-537); these extend the engine per the north-star
brief, like operators/pipeline.py.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import ngrams, tokens
from ..lineage import truncate_lineage
from ..sources.registry import load_table

#: pair stride for the eval gates — doc a pairs with a+1 when
#: a % EVAL_STRIDE == 0 (the dedup WJ_STRIDE convention)
EVAL_STRIDE = 50

#: ROUGE-L token cap per side: bounds the per-pair LCS DP at
#: ROUGE_CAP² cells regardless of document length (documented
#: truncation — eval harnesses cap generation length the same way)
ROUGE_CAP = 200


def _stride_docs(docs: DataFrame, stride: int):
    """(reference, hypothesis) = (a, a+1) doc pairs under the stride
    rule, as two keyed projections ready to join on ``pair``."""
    ref = docs.where(F.col("doc_id") % stride == 0)
    hyp = docs.where(F.col("doc_id") % stride == 1)
    return ref, hyp


def token_f1_pairs(docs: DataFrame, stride: int = EVAL_STRIDE) -> DataFrame:
    """SQuAD-style token-level F1 per (reference, hypothesis) pair:
    overlap = Σ_t min(count_ref, count_hyp) over token MULTISETS, F1 =
    2·overlap/(len_ref + len_hyp) — the extractive-QA headline metric.

    Shape: each doc collapses to ONE row carrying its token-count MAP
    (explode + two map-combinable aggregates), then a single pair join
    and pure map algebra — overlap = Σ least over ``map_zip_with`` of
    the two count maps (absent keys coalesce to 0). Building the maps
    once keeps the token subtree single-pass; the first cut re-derived
    it per consumer (4 lens/count projections → 26 HashAggregates in
    the plan, measured 12 s for 500 docs; this form runs in ~1 s).
    precision/recall/F1 all emitted as exact e6 floor-divisions of
    integer counts — no float anywhere. Per-doc map size is the doc's
    vocabulary — document-bounded, not corpus-bounded — so the row
    width holds at any corpus scale."""
    ref, hyp = _stride_docs(docs, stride)
    both = ref.select("doc_id", "text").unionByName(
        hyp.select("doc_id", "text")
    )
    per = (
        both.select(
            "doc_id", F.explode(tokens("text", drop_empty=True)).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("tok", "cnt"))
            ).alias("m"),
            F.sum("cnt").cast("long").alias("n"),
        )
    )
    a = per.where(F.col("doc_id") % stride == 0).select(
        F.col("doc_id").alias("pair"),
        F.col("m").alias("ma"),
        F.col("n").alias("len_ref"),
    )
    b = per.where(F.col("doc_id") % stride == 1).select(
        (F.col("doc_id") - 1).alias("pair"),
        F.col("m").alias("mb"),
        F.col("n").alias("len_hyp"),
    )
    ov = F.aggregate(
        F.map_values(
            F.map_zip_with(
                "ma", "mb",
                lambda k, x, y: F.least(
                    F.coalesce(x, F.lit(0)), F.coalesce(y, F.lit(0))
                ),
            )
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        a.join(b, "pair")
        .select(
            F.col("pair").alias("a"),
            (F.col("pair") + 1).alias("b"),
            ov.alias("overlap"),
            "len_ref",
            "len_hyp",
        )
        .select(
            "a", "b", "overlap", "len_ref", "len_hyp",
            F.expr("(1000000 * overlap) DIV len_hyp").alias("prec_e6"),
            F.expr("(1000000 * overlap) DIV len_ref").alias("rec_e6"),
            F.expr("(2000000 * overlap) DIV (len_ref + len_hyp)")
            .alias("f1_e6"),
        )
    )


def eval_token_f1_pairs(spark, sf_dir):
    """Gate: token-level F1 over the stride-paired corpus."""
    return token_f1_pairs(load_table(spark, "documents", sf_dir))


def bleu2_pairs(docs: DataFrame, stride: int = EVAL_STRIDE) -> DataFrame:
    """BLEU-2 (no brevity penalty, documented) per pair: clipped
    unigram precision p1 = Σmin(c_hyp, c_ref)/len_hyp, clipped bigram
    precision p2 = Σmin over bigram multisets/(len_hyp − 1), score =
    √(p1·p2) — geometric mean of the two modified precisions
    (Papineni 2002), restricted to hypotheses with ≥ 2 tokens so p2 is
    defined. The brevity penalty's exp(1 − r/c) would be the only
    transcendental in the engine's exactness envelope, so it is
    deliberately out of scope (pairs here share a length regime; the
    docstring, not the code, is where that caveat lives).

    m1·m2, len·(len−1) stay exact integers; the single float op is
    FLOOR(1e6·√(m1·m2 / (len·(len−1)))) — IEEE-identical cross-engine.
    Same join geometry as token_f1_pairs plus one bigram aggregate
    (multiplicity-preserving ngrams, NOT array_distinct)."""
    ref, hyp = _stride_docs(docs, stride)
    both = ref.select("doc_id", "text").unionByName(
        hyp.select("doc_id", "text")
    )
    t = tokens("text", drop_empty=True)
    # r13: the (t1, t2) gram table feeds FOUR consumers (both n-gram
    # count aggregates and the length spine's two sides), and `t`
    # itself is referenced five times in this one select — untruncated,
    # every consumer re-ran the tokenize+bigram build per doc
    # (plan-verified: ~80 re-inlined split() sites).
    grams = truncate_lineage(
        both.select(
            "doc_id",
            t.alias("t1"),
            ngrams(t, 2).alias("t2"),
        )
    )
    counts = {}
    for n, col in (("1", "t1"), ("2", "t2")):
        counts[n] = (
            grams.select(
                "doc_id", F.explode(F.col(col)).alias("g")
            )
            .groupBy("doc_id", "g")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
    lens = grams.select(
        "doc_id", F.size("t1").cast("long").alias("n_toks")
    )
    la = lens.where(F.col("doc_id") % stride == 0).select(
        F.col("doc_id").alias("pair")
    )
    lb = lens.where(
        (F.col("doc_id") % stride == 1) & (F.col("n_toks") >= 2)
    ).select(
        (F.col("doc_id") - 1).alias("pair"),
        F.col("n_toks").alias("len_hyp"),
    )
    pairs = la.join(lb, "pair")
    matched = {}
    for n in ("1", "2"):
        c = counts[n]
        ca = c.where(F.col("doc_id") % stride == 0).select(
            F.col("doc_id").alias("pair"), "g", F.col("cnt").alias("ca")
        )
        cb = c.where(F.col("doc_id") % stride == 1).select(
            (F.col("doc_id") - 1).alias("pair"), "g",
            F.col("cnt").alias("cb"),
        )
        matched[n] = (
            ca.join(cb, ["pair", "g"])
            .groupBy("pair")
            .agg(F.sum(F.least("ca", "cb")).cast("long").alias(f"m{n}"))
        )
    return (
        pairs.join(matched["1"], "pair", "left")
        .join(matched["2"], "pair", "left")
        .select(
            F.col("pair").alias("a"),
            (F.col("pair") + 1).alias("b"),
            F.coalesce("m1", F.lit(0)).alias("m1"),
            F.coalesce("m2", F.lit(0)).alias("m2"),
            "len_hyp",
            F.floor(
                1000000.0
                * F.sqrt(
                    (
                        F.coalesce("m1", F.lit(0))
                        * F.coalesce("m2", F.lit(0))
                    ).cast("double")
                    / (F.col("len_hyp") * (F.col("len_hyp") - 1)).cast(
                        "double"
                    )
                )
            ).cast("long").alias("bleu2_e6"),
        )
    )


def eval_bleu2_pairs(spark, sf_dir):
    """Gate: BLEU-2 (clipped 1/2-gram precisions) over stride pairs."""
    return bleu2_pairs(load_table(spark, "documents", sf_dir))


def rouge_l_pairs(
    docs: DataFrame, stride: int = EVAL_STRIDE, cap: int = ROUGE_CAP
) -> DataFrame:
    """ROUGE-L per pair: longest common SUBSEQUENCE of the token
    streams (order-sensitive, gap-tolerant — what distinguishes it
    from every bag-of-ngrams metric above), F-measure = 2·lcs/(la+lb).

    LCS is an O(la·lb) dynamic program — genuinely not a SQL
    expression — so this is the module's one Python kernel: token
    arrays are built JVM-side (truncated to ``cap`` per side, the
    standard generation-length cap), the pair join happens BEFORE the
    UDF so Python sees exactly one row per pair, and the DP runs as a
    numpy rolling-row inside mapInPandas. Rows-only gate; the full
    pure-Python golden (tests/test_round13_ops.py) pins every value.
    """
    ref, hyp = _stride_docs(docs, stride)
    a = ref.select(
        F.col("doc_id").alias("pair"),
        F.slice(tokens("text", drop_empty=True), 1, cap).alias("ta"),
    )
    b = hyp.select(
        (F.col("doc_id") - 1).alias("pair"),
        F.slice(tokens("text", drop_empty=True), 1, cap).alias("tb"),
    )
    joined = a.join(b, "pair")
    schema = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("b", T.LongType()),
            T.StructField("lcs_len", T.LongType()),
            T.StructField("len_ref", T.LongType()),
            T.StructField("len_hyp", T.LongType()),
            T.StructField("rouge_l_f_e6", T.LongType()),
        ]
    )

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in it:
            rows = []
            for pair, ta, tb in zip(pdf["pair"], pdf["ta"], pdf["tb"]):
                ta, tb = list(ta), list(tb)
                la, lb = len(ta), len(tb)
                # intern tokens to ints so the DP compares int64s
                vocab = {t: i for i, t in enumerate(dict.fromkeys(ta + tb))}
                xa = np.array([vocab[t] for t in ta], dtype=np.int64)
                xb = np.array([vocab[t] for t in tb], dtype=np.int64)
                prev = np.zeros(lb + 1, dtype=np.int64)
                for i in range(la):
                    cur = np.zeros(lb + 1, dtype=np.int64)
                    match = prev[:-1] + (xb == xa[i])
                    np.maximum(prev[1:], match, out=cur[1:])
                    np.maximum.accumulate(cur, out=cur)
                    prev = cur
                lcs = int(prev[-1])
                f = (2_000_000 * lcs) // (la + lb) if la + lb else 0
                rows.append(
                    (int(pair), int(pair) + 1, lcs, la, lb, f)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "a", "b", "lcs_len", "len_ref", "len_hyp",
                    "rouge_l_f_e6",
                ],
            )

    return joined.mapInPandas(batches, schema)


def eval_rouge_l_pairs(spark, sf_dir):
    """Gate (rows-only): ROUGE-L LCS F-measure over stride pairs."""
    return rouge_l_pairs(load_table(spark, "documents", sf_dir))


EVAL_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "eval_token_f1_pairs": eval_token_f1_pairs,
    "eval_bleu2_pairs": eval_bleu2_pairs,
    "eval_rouge_l_pairs": eval_rouge_l_pairs,
}

_TOK_SQL = (
    "list_filter(string_split_regex(lower(trim(text)), '\\s+'), "
    "x -> x <> '')"
)

EVAL_ORACLE: dict[str, str] = {
    "eval_token_f1_pairs": (
        "WITH bt AS ("
        f"  SELECT doc_id, unnest({_TOK_SQL}) AS tok FROM documents "
        f"  WHERE doc_id % {EVAL_STRIDE} IN (0, 1)), "
        "tc AS ("
        "  SELECT doc_id, tok, COUNT(*) AS cnt FROM bt "
        "  GROUP BY doc_id, tok), "
        "lens AS (SELECT doc_id, SUM(cnt) AS n FROM tc GROUP BY doc_id), "
        f"pairs AS ("
        f"  SELECT la.doc_id AS pair, la.n AS len_ref, lb.n AS len_hyp "
        f"  FROM lens la JOIN lens lb ON lb.doc_id = la.doc_id + 1 "
        f"  WHERE la.doc_id % {EVAL_STRIDE} = 0), "
        f"ov AS ("
        f"  SELECT ta.doc_id AS pair, "
        f"    SUM(LEAST(ta.cnt, tb.cnt)) AS overlap "
        f"  FROM tc ta JOIN tc tb "
        f"    ON tb.doc_id = ta.doc_id + 1 AND tb.tok = ta.tok "
        f"  WHERE ta.doc_id % {EVAL_STRIDE} = 0 "
        f"  GROUP BY ta.doc_id) "
        "SELECT p.pair AS a, p.pair + 1 AS b, "
        "  CAST(COALESCE(o.overlap, 0) AS BIGINT) AS overlap, "
        "  CAST(p.len_ref AS BIGINT) AS len_ref, "
        "  CAST(p.len_hyp AS BIGINT) AS len_hyp, "
        "  CAST(1000000 * COALESCE(o.overlap, 0) // p.len_hyp AS BIGINT) "
        "    AS prec_e6, "
        "  CAST(1000000 * COALESCE(o.overlap, 0) // p.len_ref AS BIGINT) "
        "    AS rec_e6, "
        "  CAST(2000000 * COALESCE(o.overlap, 0) "
        "    // (p.len_ref + p.len_hyp) AS BIGINT) AS f1_e6 "
        "FROM pairs p LEFT JOIN ov o ON o.pair = p.pair"
    ),
    "eval_bleu2_pairs": (
        "WITH toks AS ("
        f"  SELECT doc_id, {_TOK_SQL} AS t FROM documents "
        f"  WHERE doc_id % {EVAL_STRIDE} IN (0, 1)), "
        "u AS ("
        "  SELECT doc_id, unnest(t) AS g FROM toks), "
        "uc AS (SELECT doc_id, g, COUNT(*) AS cnt FROM u "
        "  GROUP BY doc_id, g), "
        "bg AS ("
        "  SELECT doc_id, t[i] || ' ' || t[i+1] AS g "
        "  FROM toks, UNNEST(range(1, len(t))) AS r(i)), "
        "bc AS (SELECT doc_id, g, COUNT(*) AS cnt FROM bg "
        "  GROUP BY doc_id, g), "
        "lens AS (SELECT doc_id, len(t) AS n FROM toks), "
        f"pairs AS ("
        f"  SELECT la.doc_id AS pair, lb.n AS len_hyp "
        f"  FROM lens la JOIN lens lb ON lb.doc_id = la.doc_id + 1 "
        f"  WHERE la.doc_id % {EVAL_STRIDE} = 0 AND lb.n >= 2), "
        f"m1 AS ("
        f"  SELECT a.doc_id AS pair, SUM(LEAST(a.cnt, b.cnt)) AS m "
        f"  FROM uc a JOIN uc b "
        f"    ON b.doc_id = a.doc_id + 1 AND b.g = a.g "
        f"  WHERE a.doc_id % {EVAL_STRIDE} = 0 GROUP BY a.doc_id), "
        f"m2 AS ("
        f"  SELECT a.doc_id AS pair, SUM(LEAST(a.cnt, b.cnt)) AS m "
        f"  FROM bc a JOIN bc b "
        f"    ON b.doc_id = a.doc_id + 1 AND b.g = a.g "
        f"  WHERE a.doc_id % {EVAL_STRIDE} = 0 GROUP BY a.doc_id) "
        "SELECT p.pair AS a, p.pair + 1 AS b, "
        "  CAST(COALESCE(m1.m, 0) AS BIGINT) AS m1, "
        "  CAST(COALESCE(m2.m, 0) AS BIGINT) AS m2, "
        "  CAST(p.len_hyp AS BIGINT) AS len_hyp, "
        "  CAST(FLOOR(1000000.0 * SQRT("
        "    (COALESCE(m1.m, 0) * COALESCE(m2.m, 0))::DOUBLE "
        "    / (p.len_hyp * (p.len_hyp - 1))::DOUBLE)) AS BIGINT) "
        "    AS bleu2_e6 "
        "FROM pairs p LEFT JOIN m1 ON m1.pair = p.pair "
        "LEFT JOIN m2 ON m2.pair = p.pair"
    ),
    # eval_rouge_l_pairs: LCS dynamic program — rows-only by nature,
    # full pure-Python golden in tests/test_round13_ops.py
}


#: pass@k report points — the k=1/5/10 convention of code-gen evals
PASS_AT_KS = (1, 5, 10)


def pass_at_k(events: DataFrame, ks=PASS_AT_KS) -> DataFrame:
    """Unbiased pass@k (Chen et al. 2021, the HumanEval estimator) per
    k, treating each user as a PROBLEM and their events as n solution
    SAMPLES of which c = the purchases are "passing": pass@k =
    1 − C(n−c, k)/C(n, k), averaged over problems with n ≥ k.

    C(n−c,k)/C(n,k) = Π_{i<k}(n−c−i)/(n−i): a LEFT-TO-RIGHT fold of
    at most k double ratios (integer falling factorials overflow int64
    at n ≳ 90 for k=10 — the first cut tried them and ANSI mode threw
    ARITHMETIC_OVERFLOW at sf0.01). Each ratio is one IEEE divide of
    exact integers and the fold order is pinned on both engines
    (Spark aggregate() over sequence(0,k−1); DuckDB list_aggregate
    'product' over the same comprehension order), so the product is
    bit-identical cross-engine; per-problem p quantizes to floored e6
    FIRST, then the corpus mean is an exact integer division
    (floor-of-mean-of-floors — both engines sum identical integers).
    n−c < k means every k-subset contains a pass: the CASE pins
    pass@k = 1 exactly before the product is consulted.

    Scale: one (user) count aggregate over events — map-combinable —
    then a k-row explode of the problem table (problems ≪ samples)
    and one final global mean. No joins wider than the broadcast k
    spine."""
    per = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).cast("long").alias("c"),
    )
    ks_df = F.explode(
        F.array(*[F.lit(int(k)) for k in ks])
    ).alias("k")
    probs = per.select("user_id", "n", "c", ks_df).where(
        F.col("n") >= F.col("k")
    )
    # ordered fold of k double ratios (see docstring for why not
    # integer falling factorials)
    idx = F.sequence(F.lit(0), F.col("k") - 1)
    prod = F.aggregate(
        idx,
        F.lit(1.0),
        lambda acc, i: acc
        * (
            (F.col("n") - F.col("c") - i).cast("double")
            / (F.col("n") - i).cast("double")
        ),
    )
    scored = probs.withColumn("_prod", prod).select(
        "k",
        F.when(
            F.col("n") - F.col("c") < F.col("k"), F.lit(1_000_000)
        )
        .otherwise(
            F.floor(1000000.0 * (F.lit(1.0) - F.col("_prod")))
        )
        .cast("long")
        .alias("p_e6"),
    )
    return scored.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n_problems"),
        F.expr("SUM(p_e6) DIV COUNT(1)").cast("long").alias(
            "mean_pass_e6"
        ),
    ).select(F.col("k").cast("long").alias("k"), "n_problems", "mean_pass_e6")


def eval_pass_at_k(spark, sf_dir):
    """Gate: unbiased pass@{1,5,10} over the events-as-samples corpus."""
    return pass_at_k(load_table(spark, "events", sf_dir))


EVAL_QUERIES["eval_pass_at_k"] = eval_pass_at_k
EVAL_ORACLE["eval_pass_at_k"] = (
    "WITH per AS ("
    "  SELECT user_id, COUNT(*) AS n, "
    "    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c "
    "  FROM events GROUP BY user_id), "
    "ks AS (SELECT unnest([1, 5, 10]) AS k), "
    "probs AS ("
    "  SELECT per.user_id, per.n, per.c, ks.k FROM per, ks "
    "  WHERE per.n >= ks.k), "
    "ff AS ("
    "  SELECT k, n, c, "
    "    list_aggregate([(n - c - i)::DOUBLE / (n - i) "
    "      FOR i IN range(0, k)], 'product') AS prod "
    "  FROM probs), "
    "scored AS ("
    "  SELECT k, CASE WHEN n - c < k THEN 1000000 "
    "    ELSE CAST(FLOOR(1000000.0 * (1.0 - prod)) AS BIGINT) END AS p_e6 "
    "  FROM ff) "
    "SELECT CAST(k AS BIGINT) AS k, COUNT(*)::BIGINT AS n_problems, "
    "  CAST(SUM(p_e6) // COUNT(*) AS BIGINT) AS mean_pass_e6 "
    "FROM scored GROUP BY k"
)


#: stopwords used by the English-confidence scorer (shared with the
#: DuckDB oracle rendering below)
_ECE_STOP = "(the|a|of|and|to|in|is|it)"


def ece_bins(docs: DataFrame) -> DataFrame:
    """Calibration audit (the reliability-diagram/ECE readout): score
    each document with a deterministic "is English" CONFIDENCE (capped
    stopword-density, exact e4 integers), take the fixture's ``lang``
    column as ground truth, and bucket into 10 confidence bins. Per
    bin: count, positives, confidence mass, and the calibration gap
    |accuracy − mean confidence| as an exact e6 integer —
    Σ (n_b/N)·gap_b is the Expected Calibration Error, and a judge/
    classifier whose gap grows with confidence is overconfident.

    gap_e6 = 1e6·|1e4·pos_b − Σconf_b| div (1e4·n_b): the absolute
    difference of two exact integers, divided once — no float at all.

    Scale: one expression pass over the corpus into a 10-bin hash
    aggregate (map-combinable); nothing after the aggregate touches
    the corpus."""
    ntok = F.size(tokens("text", drop_empty=True))
    nstop = F.size(
        F.expr(
            f"regexp_extract_all(lower(text), '\\\\b{_ECE_STOP}\\\\b', 0)"
        )
    )
    # exact integer: conf_e4 = min(10000, (30000*n_stop) div n_tok) —
    # DIV, not floor(float /): a float quotient that rounds up across
    # an integer boundary would diverge from the oracle's `//`
    scored = (
        docs.where(ntok > 0)
        .select(
            nstop.cast("long").alias("_ns"),
            ntok.cast("long").alias("_nt"),
            F.when(F.col("lang") == "en", 1).otherwise(0).cast("long")
            .alias("y"),
        )
        .select(
            F.least(
                F.lit(10000).cast("long"),
                F.expr("(30000 * _ns) DIV _nt"),
            ).alias("conf_e4"),
            "y",
        )
        .select(
            F.least(F.expr("conf_e4 DIV 1000"), F.lit(9)).cast("long")
            .alias("bin"),
            "conf_e4",
            "y",
        )
    )
    return (
        scored.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("y").cast("long").alias("n_pos"),
            F.sum("conf_e4").cast("long").alias("sum_conf_e4"),
        )
        .select(
            "bin", "n_docs", "n_pos", "sum_conf_e4",
            F.expr(
                "(1000000 * abs(10000 * n_pos - sum_conf_e4)) "
                "DIV (10000 * n_docs)"
            ).cast("long").alias("gap_e6"),
        )
    )


def eval_ece_bins(spark, sf_dir):
    """Gate: 10-bin calibration (reliability) table for the stopword
    English-confidence scorer vs the lang ground truth."""
    return ece_bins(load_table(spark, "documents", sf_dir))


EVAL_QUERIES["eval_ece_bins"] = eval_ece_bins
EVAL_ORACLE["eval_ece_bins"] = (
    "WITH s AS ("
    "  SELECT "
    f"    len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), "
    "      x -> x <> '')) AS ntok, "
    f"    len(regexp_extract_all(lower(text), '\\b{_ECE_STOP}\\b')) "
    "      AS nstop, "
    "    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y "
    "  FROM documents), "
    "c AS ("
    "  SELECT LEAST(10000, (30000 * nstop) // ntok) AS conf_e4, y "
    "  FROM s WHERE ntok > 0), "
    "b AS ("
    "  SELECT LEAST(conf_e4 // 1000, 9) AS bin, conf_e4, y FROM c) "
    "SELECT CAST(bin AS BIGINT) AS bin, COUNT(*)::BIGINT AS n_docs, "
    "  CAST(SUM(y) AS BIGINT) AS n_pos, "
    "  CAST(SUM(conf_e4) AS BIGINT) AS sum_conf_e4, "
    "  CAST((1000000 * ABS(10000 * SUM(y) - SUM(conf_e4))) "
    "    // (10000 * COUNT(*)) AS BIGINT) AS gap_e6 "
    "FROM b GROUP BY bin"
)


# --------------------------------------------------------------------------
# retrieval ranking quality: MRR + nDCG@10 over planted ranks
# --------------------------------------------------------------------------

#: id offset of each query's RELEVANT candidate (rescaled twin, cos 1.0)
RETR_REL_OFFSET = 10_000_000
#: id step for the rank-pinning decoy twins (ids BELOW the relevant's,
#: so cos-1.0 ties break to the decoys and the relevant lands at
#: rank 1 + (q mod 3) exactly)
RETR_DECOY_STEP = 1_000_000
#: queries = vec_id < RETR_N_QUERIES
RETR_N_QUERIES = 50

import math as _math  # noqa: E402

#: floor(1e6 / log2(rank+1)) for ranks 1..10, precomputed in Python —
#: the established constants-not-libm discipline: embedding the same
#: literals on both engines removes any last-ulp log2 divergence
NDCG10_E6 = {
    r: _math.floor(1_000_000.0 / _math.log2(r + 1)) for r in range(1, 11)
}


def retrieval_ranking(emb: DataFrame) -> DataFrame:
    """MRR and nDCG@10 per query over a PLANTED ranking: each query's
    relevant candidate is its direction-preserving 2⁻¹-scaled twin
    (cosine exactly 1.0 in fp), and q mod 3 decoy twins with SMALLER
    ids force the relevant to rank 1 + (q mod 3) under the
    (score desc, id asc) tie rule — so the full ranking machinery
    (score join → per-query window rank → metric lookup) runs for
    real, while the expected output is closed-form (the
    sim_knn_join_twins philosophy; natural cross-vector cosines peak
    ≈ 0.51 ≪ 1.0, pinned by the fixture test, so they never intrude).

    rr_e6 = 1e6 div rank exactly; ndcg@10 uses the PRECOMPUTED
    floor(1e6/log2(rank+1)) literal table — embedding identical
    constants on both engines instead of trusting two libm log2s to
    agree in the last ulp.

    Scale: queries are a bounded slice (broadcast side of the score
    join); candidates stream by; one window partitioned by query."""
    q = emb.where(F.col("vec_id") < RETR_N_QUERIES)

    def _scaled(s: float):
        return lambda x: (x * F.lit(s)).cast("float")

    rel = q.select(
        (F.col("vec_id") + RETR_REL_OFFSET).alias("c_id"),
        F.transform("embedding", _scaled(0.5)).alias("cv"),
    )
    decoys = None
    for j in (1, 2):
        d = q.where(F.col("vec_id") % 3 >= j).select(
            (F.col("vec_id") + j * RETR_DECOY_STEP).alias("c_id"),
            F.transform("embedding", _scaled(0.25)).alias("cv"),
        )
        decoys = d if decoys is None else decoys.unionByName(d)
    naturals = emb.where(F.col("vec_id") >= RETR_N_QUERIES).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("cv")
    )
    cands = rel.unionByName(decoys).unionByName(naturals)
    qs = q.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"))
    # Round-13 optimization (guide §4.2 / §1.2 per-task work): the
    # norms are per-VECTOR quantities — precompute them once per
    # candidate and once per query instead of re-folding both inside
    # every pair's cosine (3 interpreted 64-element HOF folds per pair
    # → 1). norm(cv)·norm(qv) is the same double either way (identical
    # expression on identical data), so floor(cos·1e6) is unchanged.
    from .similarity import dot, norm

    cands_n = cands.select("c_id", "cv", norm(F.col("cv")).alias("nc"))
    qs_n = qs.select("q_id", "qv", norm(F.col("qv")).alias("nq"))
    scored = cands_n.crossJoin(F.broadcast(qs_n)).select(
        "q_id", "c_id",
        F.floor(
            (dot(F.col("cv"), F.col("qv")) / (F.col("nc") * F.col("nq")))
            * 1_000_000
        ).cast("long").alias("score_e6"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(
        F.col("score_e6").desc(), F.col("c_id").asc()
    )
    ranked = scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("c_id") == F.col("q_id") + RETR_REL_OFFSET
    )
    ndcg = F.lit(0).cast("long")
    for r, v in sorted(NDCG10_E6.items(), reverse=True):
        ndcg = F.when(F.col("rank") == r, F.lit(v).cast("long")).otherwise(
            ndcg
        )
    return ranked.select(
        "q_id",
        F.col("rank").cast("long").alias("rank"),
        F.expr("1000000 DIV rank").cast("long").alias("rr_e6"),
        ndcg.alias("ndcg10_e6"),
    )


def eval_retrieval_ranking(spark, sf_dir):
    """Gate: MRR/nDCG@10 over the planted-rank retrieval fixture."""
    return retrieval_ranking(
        load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    )


EVAL_QUERIES["eval_retrieval_ranking"] = eval_retrieval_ranking
EVAL_ORACLE["eval_retrieval_ranking"] = (
    "SELECT vec_id AS q_id, "
    "  CAST(1 + vec_id % 3 AS BIGINT) AS rank, "
    "  CAST(1000000 // (1 + vec_id % 3) AS BIGINT) AS rr_e6, "
    "  CAST(CASE 1 + vec_id % 3 "
    f"    WHEN 1 THEN {NDCG10_E6[1]} WHEN 2 THEN {NDCG10_E6[2]} "
    f"    WHEN 3 THEN {NDCG10_E6[3]} END AS BIGINT) AS ndcg10_e6 "
    f"FROM embeddings WHERE vec_id < {RETR_N_QUERIES}"
)


def chrf_pairs(docs: DataFrame, stride: int = EVAL_STRIDE) -> DataFrame:
    """chrF (Popović 2015) per pair, the character-level member of the
    MT-metric set (robust to tokenization and morphology where
    token F1/BLEU are blind): character 3-gram multiset overlap over
    whitespace-stripped lowercased text, combined as F_{β=2} =
    5·P·R/(4P+R) — which with P = o/h, R = o/r collapses to the EXACT
    integer closed form 5·o/(4r + h) (o = Σmin clipped matches,
    r/h = reference/hypothesis gram counts), so chrf2_e6 is one
    integer floor-division, no float anywhere.

    Char 3-grams with multiplicity via a position explode (sequence +
    substring — O(chars) rows, map-side); one count aggregate per doc
    and one (pair, gram) equi-join, the token-F1 geometry at character
    granularity. Pairs restricted to both sides having ≥ 3 stripped
    chars so the gram sets are non-empty."""
    ref, hyp = _stride_docs(docs, stride)
    both = ref.select("doc_id", "text").unionByName(
        hyp.select("doc_id", "text")
    )
    stripped = F.regexp_replace(F.lower(F.col("text")), r"\s+", "")
    base = both.select(
        "doc_id", stripped.alias("s"), F.length(stripped).alias("n")
    ).where(F.col("n") >= 3)
    grams = (
        base.select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.col("n") - 2)).alias("i"),
            "s",
        )
        .select("doc_id", F.expr("substring(s, i, 3)").alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    per = grams.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("g", "cnt"))).alias("m"),
        F.sum("cnt").cast("long").alias("ng"),
    )
    a = per.where(F.col("doc_id") % stride == 0).select(
        F.col("doc_id").alias("pair"), F.col("m").alias("ma"),
        F.col("ng").alias("r_grams"),
    )
    b = per.where(F.col("doc_id") % stride == 1).select(
        (F.col("doc_id") - 1).alias("pair"), F.col("m").alias("mb"),
        F.col("ng").alias("h_grams"),
    )
    ov = F.aggregate(
        F.map_values(
            F.map_zip_with(
                "ma", "mb",
                lambda k, x, y: F.least(
                    F.coalesce(x, F.lit(0)), F.coalesce(y, F.lit(0))
                ),
            )
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        a.join(b, "pair")
        .select(
            F.col("pair").alias("a"),
            (F.col("pair") + 1).alias("b"),
            ov.alias("overlap"),
            "r_grams",
            "h_grams",
        )
        .select(
            "a", "b", "overlap", "r_grams", "h_grams",
            F.expr("(5000000 * overlap) DIV (4 * r_grams + h_grams)")
            .alias("chrf2_e6"),
        )
    )


def eval_chrf_pairs(spark, sf_dir):
    """Gate: chrF (char-3-gram F_2) over the stride-paired corpus."""
    return chrf_pairs(load_table(spark, "documents", sf_dir))


EVAL_QUERIES["eval_chrf_pairs"] = eval_chrf_pairs
EVAL_ORACLE["eval_chrf_pairs"] = (
    "WITH base AS ("
    "  SELECT doc_id, regexp_replace(lower(text), '\\s+', '', 'g') AS s "
    f"  FROM documents WHERE doc_id % {EVAL_STRIDE} IN (0, 1)), "
    "b2 AS (SELECT doc_id, s, length(s) AS n FROM base WHERE length(s) >= 3), "
    "grams AS ("
    "  SELECT doc_id, substring(s, CAST(i AS INT), 3) AS g, COUNT(*) AS cnt "
    "  FROM b2, UNNEST(range(1, n - 1)) AS u(i) "
    "  GROUP BY doc_id, substring(s, CAST(i AS INT), 3)), "
    "per AS ("
    "  SELECT doc_id, SUM(cnt) AS ng FROM grams GROUP BY doc_id), "
    f"pairs AS ("
    f"  SELECT pa.doc_id AS pair, pa.ng AS r_grams, pb.ng AS h_grams "
    f"  FROM per pa JOIN per pb ON pb.doc_id = pa.doc_id + 1 "
    f"  WHERE pa.doc_id % {EVAL_STRIDE} = 0), "
    f"ov AS ("
    f"  SELECT ga.doc_id AS pair, SUM(LEAST(ga.cnt, gb.cnt)) AS o "
    f"  FROM grams ga JOIN grams gb "
    f"    ON gb.doc_id = ga.doc_id + 1 AND gb.g = ga.g "
    f"  WHERE ga.doc_id % {EVAL_STRIDE} = 0 GROUP BY ga.doc_id) "
    "SELECT p.pair AS a, p.pair + 1 AS b, "
    "  CAST(COALESCE(ov.o, 0) AS BIGINT) AS overlap, "
    "  CAST(p.r_grams AS BIGINT) AS r_grams, "
    "  CAST(p.h_grams AS BIGINT) AS h_grams, "
    "  CAST((5000000 * COALESCE(ov.o, 0)) "
    "    // (4 * p.r_grams + p.h_grams) AS BIGINT) AS chrf2_e6 "
    "FROM pairs p LEFT JOIN ov ON ov.pair = p.pair"
)


def average_precision(docs: DataFrame) -> DataFrame:
    """Average Precision (area under the precision-recall curve, the
    ranking-quality number IR/classifier evals report when positives
    are rare) of the ECE gate's English-confidence scorer against the
    lang ground truth: rank all docs by (confidence desc, doc_id),
    AP = mean over positives of P@rank.

    NO global window: rank and cumulative-positive counts ride ONE
    :func:`~data_table_spark.operators.scale.distributed_prefix_sum`
    pass over the integral composite key (10⁴ − conf)·10⁷ + doc_id
    (descending confidence, ascending id — the exact tie rule the
    oracle replays with ORDER BY), with the two counters PACKED into
    one long (y·2³² + 1 per row — the q125 packing idiom; each
    cumulative stays < 2³¹ below ~2.1e9 docs, the documented domain).
    Round-13 optimization (guide §1.2): this replaces the former two
    chained prefix-sum passes, and the final n_docs/n_pos/Σterm
    readout collapses to ONE conditional aggregate over the cumulative
    stream (max(rank), max(cum_pos), Σ when(y=1)) instead of a
    two-subtree crossJoin — sf0.1: 3.9 s → ~1.1 s. Per-positive terms
    quantize to floored e6 FIRST, then the mean is one exact integer
    division (floor-of-mean-of-floors, the pass@k discipline), so both
    engines sum identical integers."""
    from .scale import distributed_prefix_sum

    ntok = F.size(tokens("text", drop_empty=True))
    nstop = F.size(
        F.expr(
            f"regexp_extract_all(lower(text), '\\\\b{_ECE_STOP}\\\\b', 0)"
        )
    )
    scored = (
        docs.where(ntok > 0)
        .select(
            "doc_id",
            nstop.cast("long").alias("_ns"),
            ntok.cast("long").alias("_nt"),
            F.when(F.col("lang") == "en", 1).otherwise(0).cast("long")
            .alias("y"),
        )
        .select(
            "doc_id", "y",
            F.least(
                F.lit(10000).cast("long"), F.expr("(30000 * _ns) DIV _nt")
            ).alias("conf_e4"),
        )
        .select(
            "y",
            (
                (F.lit(10000) - F.col("conf_e4")) * F.lit(10_000_000)
                + F.col("doc_id")
            ).alias("k"),
            (F.col("y") * F.lit(1 << 32) + F.lit(1)).alias("packed"),
        )
    )
    # bucket_span sized to the composite key RANGE (~1e11), not the
    # default 2^16: the ledger holds one row per touched bucket, and
    # 2^30 keeps it ≤ ~100 rows at any corpus size instead of
    # O(distinct keys)
    span = 1 << 30
    ranked = distributed_prefix_sum(
        scored, "k", "packed", out_col="cum_packed", bucket_span=span
    ).select(
        "y",
        # integer DIV, not float /: the double quotient loses exactness
        # past 2^53 of packed value (the round-13 DIV-parity rule)
        F.expr(f"cum_packed DIV {1 << 32}").alias("cum_pos"),
        (F.col("cum_packed") % F.lit(1 << 32)).alias("rank"),
    )
    return ranked.agg(
        F.max("rank").cast("long").alias("n_docs"),
        F.max("cum_pos").cast("long").alias("n_pos"),
        F.sum(
            F.when(
                F.col("y") == 1,
                F.expr("(1000000 * cum_pos) DIV rank"),
            )
        ).alias("_s"),
    ).select(
        "n_docs", "n_pos",
        F.expr("_s DIV n_pos").cast("long").alias("ap_e6"),
    )


def eval_average_precision(spark, sf_dir):
    """Gate: AP of the English-confidence ranking vs lang truth."""
    return average_precision(load_table(spark, "documents", sf_dir))


EVAL_QUERIES["eval_average_precision"] = eval_average_precision
EVAL_ORACLE["eval_average_precision"] = (
    "WITH s AS ("
    "  SELECT doc_id, "
    f"    len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), "
    "      x -> x <> '')) AS ntok, "
    f"    len(regexp_extract_all(lower(text), '\\b{_ECE_STOP}\\b')) "
    "      AS nstop, "
    "    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y "
    "  FROM documents), "
    "c AS ("
    "  SELECT doc_id, y, "
    "    LEAST(10000, (30000 * nstop) // ntok) AS conf_e4 "
    "  FROM s WHERE ntok > 0), "
    "r AS ("
    "  SELECT y, "
    "    SUM(y) OVER w AS cum_pos, "
    "    COUNT(*) OVER w AS rank "
    "  FROM c WINDOW w AS ("
    "    ORDER BY (10000 - conf_e4) * 10000000 + doc_id "
    "    ROWS UNBOUNDED PRECEDING)), "
    "t AS ("
    "  SELECT SUM((1000000 * cum_pos) // rank) AS ssum "
    "  FROM r WHERE y = 1), "
    "tot AS (SELECT COUNT(*) AS n_docs, SUM(y) AS n_pos FROM r) "
    "SELECT CAST(n_docs AS BIGINT) AS n_docs, "
    "  CAST(n_pos AS BIGINT) AS n_pos, "
    "  CAST(ssum // n_pos AS BIGINT) AS ap_e6 "
    "FROM tot, t"
)
