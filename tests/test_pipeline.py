"""Training-corpus pipeline operators (operators/pipeline.py): DuckDB
oracle parity for every gate plus behavioral invariants (determinism,
split totality, chunk coverage, sampling rates)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from data_table_spark.operators.bpe import (  # noqa: E402
    BPE_ORACLE,
    BPE_QUERIES,
)
from data_table_spark.operators.pipeline import (  # noqa: E402
    PIPELINE_ORACLE,
    PIPELINE_QUERIES,
    chunk_documents,
    split_assign,
    stratified_sample,
)
from tests.oracle_util import compare_to_oracle  # noqa: E402

PIPELINE_QUERIES = {**PIPELINE_QUERIES, **BPE_QUERIES}
PIPELINE_ORACLE = {**PIPELINE_ORACLE, **BPE_ORACLE}


@pytest.mark.parametrize("name", sorted(PIPELINE_ORACLE))
def test_pipeline_oracle(name, spark, sf_dir, duck):
    df = PIPELINE_QUERIES[name](spark, sf_dir)
    ok, msg = compare_to_oracle(df, duck, PIPELINE_ORACLE[name])
    assert ok, f"{name}: {msg}"


def test_split_total_and_deterministic(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s1 = split_assign(d, "doc_id").select("doc_id", "split")
    # every row gets exactly one label; rerun is identical
    assert s1.where(F.col("split").isNull()).count() == 0
    assert s1.count() == d.count()
    s2 = split_assign(d.repartition(7), "doc_id").select("doc_id", "split")
    assert s1.exceptAll(s2).count() == 0 and s2.exceptAll(s1).count() == 0
    # fractions are roughly honored (hash uniformity; 500 docs → loose)
    frac = {
        r["split"]: r["n"]
        for r in s1.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    n = sum(frac.values())
    assert 0.7 < frac.get("train", 0) / n < 0.9


def test_quality_sample_proportional_and_deterministic(spark, sf_dir):
    """Survival is proportional to the score: score-1.0 docs ALL survive,
    score-0.0 docs never do, and the kept fraction tracks the mean score.
    Rerun under a different partitioning is identical (hash, not RNG)."""
    from data_table_spark.operators.pipeline import (
        pipe_quality_sample,
        quality_weighted_sample,
    )
    from data_table_spark.operators.textstats import quality_score

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = d.withColumn("q", quality_score(F.col("text")))
    kept = quality_weighted_sample(scored, "doc_id", "q")
    assert kept.where(F.col("q") == 1.0).count() == scored.where(
        F.col("q") == 1.0
    ).count()
    assert kept.where(F.col("q") == 0.0).count() == 0
    mean_q = scored.agg(F.avg("q")).collect()[0][0]
    rate = kept.count() / scored.count()
    assert abs(rate - mean_q) < 0.1, (rate, mean_q)
    # deterministic under repartitioning
    k1 = {r["doc_id"] for r in pipe_quality_sample(spark, sf_dir).collect()}
    k2 = {
        r["doc_id"]
        for r in quality_weighted_sample(
            scored.repartition(7), "doc_id", "q"
        ).select("doc_id").collect()
    }
    assert k1 == k2


def test_stratified_sample_rate_and_subset(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s = stratified_sample(d, ["lang"], 0.3, "doc_id")
    # a sample is a subset, and each stratum is sampled near the rate
    assert s.exceptAll(d).count() == 0
    rates = (
        d.groupBy("lang").agg(F.count("*").alias("tot"))
        .join(s.groupBy("lang").agg(F.count("*").alias("kept")), "lang")
        .select((F.col("kept") / F.col("tot")).alias("r"))
        .collect()
    )
    for r in rates:
        assert 0.1 < r["r"] < 0.5


def test_chunk_coverage_and_overlap(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    chunks = chunk_documents(d, chunk_tokens=10, overlap=3)
    # reassembling chunk tokens with the overlap removed yields the doc
    stride = 7
    rebuilt = (
        chunks.withColumn("toks", F.split(F.col("chunk_text"), " "))
        .withColumn(
            "part",
            F.when(F.col("chunk_id") == 0, F.col("toks")).otherwise(
                F.slice(
                    F.col("toks"),
                    10 - stride + 1,
                    F.greatest(
                        F.size(F.col("toks")) - (10 - stride), F.lit(0)
                    ),
                )
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ", F.flatten(F.array_sort(
                    F.collect_list(F.struct("chunk_id", "part"))
                ).part)
            ).alias("re")
        )
    )
    orig = d.select(
        "doc_id",
        F.concat_ws(" ", F.split(F.trim(F.col("text")), r"\s+")).alias("t"),
    )
    bad = rebuilt.join(orig, "doc_id").where(F.col("re") != F.col("t"))
    assert bad.count() == 0
    # no chunk exceeds the window; only the tail chunk may be short
    assert chunks.where(F.col("n_chunk_tokens") > 10).count() == 0


def test_contamination_bounds(spark, sf_dir):
    df = PIPELINE_QUERIES["pipe_contamination"](spark, sf_dir)
    out = df.agg(
        F.min("contamination").alias("lo"), F.max("contamination").alias("hi")
    ).collect()[0]
    assert 0.0 <= out["lo"] and out["hi"] <= 1.0


def test_pack_sequences_budget_and_continuity(spark, sf_dir):
    """Packs fill in chunk order: pack ids are non-decreasing, start at
    0, and no pack's pre-assignment offset jumps a budget boundary."""
    from data_table_spark.operators.pipeline import (
        PACK_BUDGET,
        chunk_documents,
        pack_sequences,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
    packed = pack_sequences(chunk_documents(d)).collect()
    by_doc = {}
    for r in packed:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for rows in by_doc.values():
        rows.sort(key=lambda r: r["chunk_id"])
        total = 0
        for r in rows:
            assert r["pack_id"] == total // PACK_BUDGET
            total += r["n_chunk_tokens"]
        ids = [r["pack_id"] for r in rows]
        assert ids == sorted(ids) and ids[0] == 0


def test_chunk_edge_cases(spark):
    """Empty text, single token, and exact-multiple lengths chunk sanely."""
    from data_table_spark.operators.pipeline import chunk_documents

    rows = [
        (1, ""),                         # empty → one ''-token chunk
        (2, "solo"),                     # single token
        (3, " ".join(["w"] * 10)),       # exact chunk size
        (4, " ".join(["w"] * 17)),       # crosses one stride boundary
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = chunk_documents(df, chunk_tokens=10, overlap=3)
    got = {}
    for r in out.collect():
        got.setdefault(r["doc_id"], []).append(r)
    assert len(got[1]) == 1 and got[1][0]["n_chunk_tokens"] == 1
    assert len(got[2]) == 1 and got[2][0]["chunk_text"] == "solo"
    # 10 tokens, stride 7: chunks at 0 (10 toks) and 7 (3 toks)
    assert sorted(r["n_chunk_tokens"] for r in got[3]) == [3, 10]
    # 17 tokens: starts 0, 7, 14 → sizes 10, 10, 3
    assert sorted(r["n_chunk_tokens"] for r in got[4]) == [3, 10, 10]


def test_upsample_expected_copies(spark, sf_dir):
    """Per-source realized copy rate must track the configured weight
    (hash buckets are uniform; at corpus sizes the rate lands within a
    loose band), and the assignment must be bit-deterministic across
    independent builds of the plan."""
    from data_table_spark.operators.pipeline import (
        UPSAMPLE_WEIGHTS,
        pipe_upsample_sources,
    )
    from data_table_spark.sources.registry import load_table

    base = {
        r["source"]: r["count"]
        for r in load_table(spark, "documents", sf_dir)
        .groupBy("source").count().collect()
    }
    up = {
        r["source"]: r["count"]
        for r in pipe_upsample_sources(spark, sf_dir)
        .groupBy("source").count().collect()
    }
    for s, n in base.items():
        w = UPSAMPLE_WEIGHTS.get(s, 1.0)
        rate = up.get(s, 0) / n
        # integer-part copies are exact; the fractional part is a
        # hash-uniform coin, so allow sampling noise around frac(w)
        assert abs(rate - w) <= 0.5 / (n ** 0.5) + 0.15, (s, w, rate, n)
    again = {
        r["source"]: r["count"]
        for r in pipe_upsample_sources(spark, sf_dir)
        .groupBy("source").count().collect()
    }
    assert up == again


def test_upsample_thresholds_exact():
    """The (floor, threshold) pair per weight must be the exact decimal
    intent, not the truncated binary fraction — 2.3 means threshold
    300000, not 299999 (review finding: Spark's in-engine
    (frac*1e6).cast('bigint') truncated to 299999 while DuckDB's
    decimal arithmetic gave 300000, a latent cross-engine off-by-one)."""
    from data_table_spark.operators.pipeline import _upsample_pieces

    assert _upsample_pieces({"a": 2.3}) == {"a": (2, 300000)}
    assert _upsample_pieces({"a": 1.5}) == {"a": (1, 500000)}
    assert _upsample_pieces({"a": 0.4}) == {"a": (0, 400000)}
    assert _upsample_pieces({"a": 3.0}) == {"a": (3, 0)}


def test_distributed_prefix_sum_law(spark, sf_dir):
    """Two-phase bucket scan == SUM OVER (ORDER BY ... ROWS UNBOUNDED
    PRECEDING), across bucket spans including spans that split every
    bucket boundary and a span larger than the key range."""
    from pyspark.sql import Window

    from data_table_spark.operators.scale import distributed_prefix_sum

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "n_chars"
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    ref = d.withColumn("ps", F.sum("n_chars").over(w))
    for span in (1, 7, 64, 1 << 20):
        got = distributed_prefix_sum(d, "doc_id", "n_chars", bucket_span=span)
        assert (
            got.join(ref, "doc_id")
            .where(F.col("prefix_sum") != F.col("ps"))
            .count()
            == 0
        ), f"span={span}"


def test_pps_sample_invariants(spark, sf_dir):
    """Systematic PPS: sample size is k or k±1 (boundary pick), every
    row whose weight exceeds the step is certainly selected, and the
    sample is deterministic across runs."""
    from data_table_spark.operators.pipeline import pps_sample

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "n_chars"
    )
    s1 = pps_sample(d, "doc_id", "n_chars", k=40)
    rows = s1.collect()
    assert 39 <= len(rows) <= 41
    total = d.agg(F.sum("n_chars")).collect()[0][0]
    step = max(total // 40, 1)
    heavy = {r["doc_id"] for r in d.where(F.col("n_chars") >= step).collect()}
    picked = {r["doc_id"] for r in rows}
    assert heavy <= picked
    s2 = {r["doc_id"] for r in pps_sample(d, "doc_id", "n_chars", k=40).collect()}
    assert picked == s2


def test_distributed_prefix_max_law(spark, sf_dir):
    """Two-phase bucketed running max == MAX OVER (ORDER BY ...), in
    both directions and both inclusivities, across spans."""
    from pyspark.sql import Window

    from data_table_spark.operators.scale import distributed_prefix_max

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "n_chars"
    )
    for desc in (False, True):
        order = F.col("doc_id").desc() if desc else F.col("doc_id")
        for incl, frame_end in ((True, 0), (False, -1)):
            w = Window.orderBy(order).rowsBetween(
                Window.unboundedPreceding, frame_end
            )
            ref = d.withColumn("pm", F.max("n_chars").over(w))
            for span in (13, 1 << 20):
                got = distributed_prefix_max(
                    d, "doc_id", "n_chars", out_col="got",
                    bucket_span=span, descending=desc, inclusive=incl,
                )
                n_bad = (
                    got.join(ref, "doc_id")
                    .where(~F.col("got").eqNullSafe(F.col("pm")))
                    .count()
                )
                assert n_bad == 0, f"desc={desc} incl={incl} span={span}"


# --------------------------------------------------------------------------
# BPE tokenizer training (operators/bpe.py)
# --------------------------------------------------------------------------

def _ref_bpe(texts, n_merges, min_count=2):
    """Pure-Python reference BPE (word-frequency form, Sennrich 2016)
    with the identical (n desc, left, right) tie-break."""
    from collections import Counter

    wf = Counter()
    for t in texts:
        for w in t.lower().strip().split():
            if w:
                wf[w] += 1
    words = {w: list(w) for w in wf}
    merges = []
    for rank in range(n_merges):
        pc = Counter()
        for w, syms in words.items():
            f = wf[w]
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += f
        if not pc:
            break
        (left, right), n = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if n < min_count:
            break
        merges.append((rank, left, right, n))
        for w, syms in words.items():
            out = []
            for x in syms:
                if out and out[-1] == left and x == right:
                    out[-1] = left + x
                else:
                    out.append(x)
            words[w] = out
    return merges


def test_bpe_train_matches_reference(spark, sf_smoke):
    """The distributed trainer's full merge table must equal the
    pure-Python reference exactly — ranks, pairs, AND counts."""
    import pyarrow.parquet as pq

    from data_table_spark.operators.bpe import bpe_train
    from data_table_spark.sources.registry import load_table

    texts = pq.read_table(
        f"{sf_smoke}/documents.parquet", columns=["text"]
    ).column("text").to_pylist()
    expected = _ref_bpe(texts, n_merges=12)
    got = bpe_train(load_table(spark, "documents", sf_smoke), n_merges=12)
    assert got == expected, (got, expected)
    assert len(got) == 12, "fixture should sustain 12 merges"
    # learned order must be usable: later merges may reference tokens
    # built by earlier ones — check at least one multi-char side showed up
    assert any(len(left) > 1 or len(right) > 1 for _, left, right, _ in got)


def test_bpe_encode_roundtrip(spark, sf_smoke):
    """Encoding with the learned table must preserve content: symbols
    concatenate back to the original word, and every multi-char symbol
    is a learned merge product."""
    from data_table_spark import functions as _  # noqa: F401
    from data_table_spark.operators.bpe import bpe_encode, bpe_train
    from data_table_spark.sources.registry import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, "documents", sf_smoke).limit(50)
    merges = bpe_train(docs, n_merges=6)
    enc = bpe_encode(docs, merges)
    bad = enc.where(
        F.concat_ws("", F.col("symbols")) != F.col("word")
    ).count()
    assert bad == 0
    vocab = {left + right for _, left, right, _ in merges}
    multi = (
        enc.select(F.explode("symbols").alias("s"))
        .where(F.length("s") > 1)
        .distinct()
        .collect()
    )
    assert all(r["s"] in vocab for r in multi), (sorted(vocab), multi)
