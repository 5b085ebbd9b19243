"""Invariant tests for the round-12 operators — each pins an algebraic
property or a pure-Python recompute the DuckDB hash oracle cannot state
(the oracle proves value equality; these prove the SEMANTICS are the
intended ones)."""

from __future__ import annotations

import hashlib
import os
import re
import sys
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from data_table_spark.operators.dedup import (  # noqa: E402
    WJ_STRIDE,
    weighted_jaccard_pairs,
)
from data_table_spark.operators.multimodal import (  # noqa: E402
    JPEG_STRIDE,
    MULTIMODAL_QUERIES,
)
from data_table_spark.operators.pipeline import (  # noqa: E402
    SPANC_LEN,
    SPANC_PCT,
    SPANC_SEED,
    SUBTOK_RE,
    span_corruption,
    tokenizer_fertility,
)
from data_table_spark.operators.relational import (  # noqa: E402
    RELATIONAL_QUERIES,
)
from data_table_spark.sources.registry import load_table  # noqa: E402


def _toks(t: str) -> list[str]:
    return [w for w in re.split(r"\s+", t.lower().strip()) if w]


def _h32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


# --------------------------------------------------------------------------
# q194 mode per key
# --------------------------------------------------------------------------

def test_mode_per_key_matches_python(spark, sf_smoke):
    """Per-user mode replayed with a Counter; the tie rule (highest
    count, then lexically smallest type) is exactly min((-cnt, type))."""
    e = load_table(spark, "events", sf_smoke)
    per: dict[int, Counter] = {}
    for r in e.select("user_id", "event_type").collect():
        per.setdefault(r["user_id"], Counter())[r["event_type"]] += 1
    got = {
        r["user_id"]: (
            r["mode_type"], r["mode_cnt"], r["n_events"], r["n_types"]
        )
        for r in RELATIONAL_QUERIES["q194_mode_per_key"](
            spark, sf_smoke
        ).collect()
    }
    assert set(got) == set(per)
    for uid, c in per.items():
        mode = min(((-n, t) for t, n in c.items()))
        assert got[uid] == (
            mode[1], -mode[0], sum(c.values()), len(c)
        ), uid


# --------------------------------------------------------------------------
# weighted (multiset) Jaccard
# --------------------------------------------------------------------------

def test_weighted_jaccard_python_replay(spark, sf_smoke):
    """Σmin/Σmax over token Counters, exact e6 floor; and the
    self-similarity axiom J_w(A, A) = 1 via a doc paired with itself."""
    docs = load_table(spark, "documents", sf_smoke)
    counts = {
        r["doc_id"]: Counter(_toks(r["text"]))
        for r in docs.select("doc_id", "text").collect()
    }
    got = {
        r["a"]: (r["b"], r["inter_w"], r["union_w"], r["wj_e6"])
        for r in weighted_jaccard_pairs(docs).collect()
    }
    expected_pairs = {
        a for a in counts
        if a % WJ_STRIDE == 0 and (counts[a] or counts.get(a + 1))
    }
    assert set(got) == expected_pairs
    for a, (b, iw, uw, wj) in got.items():
        ca, cb = counts[a], counts.get(a + 1, Counter())
        toks = set(ca) | set(cb)
        exp_i = sum(min(ca[t], cb[t]) for t in toks)
        exp_u = sum(max(ca[t], cb[t]) for t in toks)
        assert (b, iw, uw) == (a + 1, exp_i, exp_u)
        assert wj == (1_000_000 * exp_i) // exp_u
        assert 0 <= wj <= 1_000_000
    # identity: a doc against itself is exactly 1.0 (multiset equality)
    one = docs.where(F.col("doc_id") == 0).select("doc_id", "text")
    twin = one.union(one.select(F.lit(1).alias("doc_id"), "text"))
    (r,) = weighted_jaccard_pairs(twin, stride=2).collect()
    assert (r["wj_e6"], r["inter_w"]) == (1_000_000, r["union_w"])


# --------------------------------------------------------------------------
# tokenizer fertility
# --------------------------------------------------------------------------

def test_tokenizer_fertility_python_replay(spark, sf_smoke):
    docs = load_table(spark, "documents", sf_smoke)
    agg: dict[str, list[int]] = {}
    pat = re.compile(SUBTOK_RE)
    for r in docs.select("source", "text").collect():
        low = r["text"].lower().strip()
        cell = agg.setdefault(r["source"], [0, 0, 0])
        cell[0] += len(_toks(low))
        cell[1] += len(pat.findall(low))
        cell[2] += len(low)
    got = {
        r["source"]: r
        for r in tokenizer_fertility(docs).collect()
    }
    assert set(got) == set(agg)
    for src, (w, s, c) in agg.items():
        g = got[src]
        assert (g["n_words"], g["n_subtoks"], g["n_chars"]) == (w, s, c)
        assert g["fertility_e6"] == (1_000_000 * s) // w
        assert g["chars_per_subtok_e6"] == (1_000_000 * c) // s
        # a whitespace word splits into >= 1 subwords: fertility >= 1
        assert g["fertility_e6"] >= 1_000_000


# --------------------------------------------------------------------------
# span corruption
# --------------------------------------------------------------------------

def test_span_corruption_python_replay(spark, sf_smoke):
    docs = load_table(spark, "documents", sf_smoke)
    got = {
        r["doc_id"]: r
        for r in span_corruption(docs).collect()
    }
    total_spans = total_masked = 0
    for r in docs.select("doc_id", "text").collect():
        n = len(_toks(r["text"]))
        if n == 0:
            assert r["doc_id"] not in got
            continue
        n_spans = (n + SPANC_LEN - 1) // SPANC_LEN
        masked = [
            s for s in range(n_spans)
            if _h32(f"{SPANC_SEED}:{r['doc_id']}:{s}") % 100 < SPANC_PCT
        ]
        m_toks = sum(min(SPANC_LEN, n - s * SPANC_LEN) for s in masked)
        g = got[r["doc_id"]]
        assert (
            g["n_toks"], g["n_spans"], g["n_masked_spans"],
            g["n_masked_toks"],
        ) == (n, n_spans, len(masked), m_toks)
        assert g["mask_rate_e6"] == (1_000_000 * m_toks) // n
        total_spans += n_spans
        total_masked += len(masked)
    # the seeded coin really masks ~SPANC_PCT% of spans corpus-wide
    rate = total_masked / total_spans
    assert 0.10 < rate < 0.20, rate


# --------------------------------------------------------------------------
# S11 streaming latest-state compaction
# --------------------------------------------------------------------------

def test_stream_latest_state_matches_batch(spark, sf_smoke, tmp_path):
    """The S11 transform replayed file-by-file in update mode converges
    to its own batch application (the gate/oracle form): keep each
    user's LAST emission (highest n_events) and compare."""
    from pyspark.sql import Window

    from data_table_spark.streaming.windows import (
        latest_state_stream,
        run_stream_over_files,
    )

    events = load_table(spark, "events", sf_smoke)
    base = str(tmp_path / "s11_src")
    t = F.unix_timestamp("ts")
    mid = events.selectExpr(
        "percentile(unix_timestamp(ts), 0.5) p"
    ).collect()[0][0]
    for part in (events.where(t <= mid), events.where(t > mid)):
        part.coalesce(1).write.mode("append").parquet(base)
        time.sleep(1.1)
    parts = sorted(
        (os.path.getmtime(os.path.join(base, f)), f)
        for f in os.listdir(base)
        if f.endswith(".parquet")
    )
    anchor = time.time() - 3600
    for i, (_, f) in enumerate(parts):
        os.utime(os.path.join(base, f), (anchor + i * 10, anchor + i * 10))

    got_df = run_stream_over_files(
        spark, base, latest_state_stream, events.schema,
        str(tmp_path / "ck_s11"), output_mode="update",
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = (
        got_df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    got = {tuple(r) for r in final.collect()}
    want = {
        tuple(r)
        for r in latest_state_stream(events).select(*final.columns).collect()
    }
    assert got == want


# --------------------------------------------------------------------------
# JPEG round-trip gate
# --------------------------------------------------------------------------

def test_media_jpeg_roundtrip_exact(spark, sf_smoke):
    """The gate's luma ledger equals the flat-block construction
    arithmetic for EVERY row — i.e. the real encode→decode cycle is
    pixel-exact on the even-valued DC-only fixture (the property the
    oracle's arithmetic replay rests on)."""
    rows = MULTIMODAL_QUERIES["media_jpeg_roundtrip"](
        spark, sf_smoke
    ).collect()
    n_docs = load_table(spark, "documents", sf_smoke).where(
        F.col("doc_id") % JPEG_STRIDE == 0
    ).count()
    assert len(rows) == n_docs > 0
    for r in rows:
        exp = 64 * sum(
            (26 * (4 * r["doc_id"] + b)) % 256 for b in range(4)
        )
        assert (r["w"], r["h"], r["lum_sum"]) == (16, 16, exp)


# --------------------------------------------------------------------------
# q195 lagged cross-correlation
# --------------------------------------------------------------------------

def test_crosscorr_python_replay(spark, sf_smoke):
    """Exact integer centering + full-series normalization replayed in
    arbitrary-precision Python; r_e6 must match the engine bit-for-bit
    and lie in [-1e6, 1e6]."""
    import math

    e = load_table(spark, "events", sf_smoke)
    daily: dict = {}
    for r in e.select(
        F.to_date("ts").alias("day"), "event_type",
        F.round(F.col("value") * 100).cast("long").alias("v_c"),
    ).collect():
        cell = daily.setdefault(r["day"], [0, 0])
        if r["event_type"] == "click":
            cell[0] += r["v_c"]
        elif r["event_type"] == "purchase":
            cell[1] += r["v_c"]
    n = len(daily)
    sx = sum(v[0] for v in daily.values())
    sy = sum(v[1] for v in daily.values())
    a = {d: n * v[0] - sx for d, v in daily.items()}
    b = {d: n * v[1] - sy for d, v in daily.items()}
    va = sum(x * x for x in a.values())
    vb = sum(x * x for x in b.values())
    import datetime

    got = {
        r["lag"]: (r["n_overlap"], r["r_e6"])
        for r in RELATIONAL_QUERIES["q195_crosscorr_daily"](
            spark, sf_smoke
        ).collect()
    }
    assert set(got) == set(range(-3, 4))
    for lag in range(-3, 4):
        num = 0
        n_overlap = 0
        for d, av in a.items():
            d2 = d + datetime.timedelta(days=lag)
            if d2 in b:
                num += av * b[d2]
                n_overlap += 1
        exp = math.floor(
            1_000_000.0 * float(num) / math.sqrt(float(va) * float(vb))
        )
        assert got[lag] == (n_overlap, exp), lag
        assert -1_000_000 <= got[lag][1] <= 1_000_000


# --------------------------------------------------------------------------
# preference pairs
# --------------------------------------------------------------------------

def test_preference_pairs_python_replay(spark, sf_smoke):
    """Score, packed key, and both argmax/argmin selections replayed in
    Python floats (the same IEEE truncation chain quality_parts pins);
    chosen strictly >= rejected and the pair is the score-extreme with
    the doc_id tie rule."""
    import math

    from data_table_spark.operators.pipeline import preference_pairs

    docs = load_table(spark, "documents", sf_smoke)
    per: dict[str, list] = {}
    stop_pat = re.compile(r"\b(the|a|of|and|to|in)\b")
    punct_pat = re.compile(r"[^\sA-Za-z0-9]")
    for r in docs.select("source", "doc_id", "text").collect():
        t = r["text"]
        n_tokens = len(re.split(r"\s+", t.strip()))
        n_chars = len(t)
        n_punct = len(punct_pat.findall(t))
        n_stop = len(stop_pat.findall(t.lower()))
        if n_tokens < 5:
            sc = 0
        else:
            punct_ratio = math.floor(n_punct / n_chars * 10000) / 10000
            stop_ratio = math.floor(n_stop / n_tokens * 10000) / 10000
            sc = math.floor(
                (
                    (1.0 - min(punct_ratio * 4, 1.0)) * 0.5
                    + min(stop_ratio * 5, 1.0) * 0.5
                )
                * 10000
            )
        per.setdefault(r["source"], []).append(
            (sc * 10**12 + r["doc_id"], sc, r["doc_id"])
        )
    got = {
        r["source"]: r for r in preference_pairs(docs).collect()
    }
    assert set(got) == set(per)
    for src, items in per.items():
        g = got[src]
        hi = max(items)
        lo = min(items)
        assert (g["chosen_doc"], g["chosen_score_e4"]) == (hi[2], max(
            s for _, s, _ in items
        ))
        assert (g["rejected_doc"], g["rejected_score_e4"]) == (lo[2], min(
            s for _, s, _ in items
        ))
        assert g["gap_e4"] == g["chosen_score_e4"] - g["rejected_score_e4"]
        assert g["gap_e4"] >= 0 and g["n_docs"] == len(items)


def test_preference_pairs_doc_id_overflow_raises(spark):
    """A doc_id >= 10^12 would bleed into the score digits of the
    packed selection key and silently corrupt the max_by/min_by
    ordering; the in-plan assert_true guard must raise instead
    (q186_ohlc_bars discipline — round-12 VERDICT item 2)."""
    import pytest

    from data_table_spark.operators.pipeline import preference_pairs

    docs = spark.createDataFrame(
        [
            ("s", 1, "the cat and the dog ran to the house in town"),
            ("s", 10**12, "a of and to in the a of and to in the road"),
        ],
        ["source", "doc_id", "text"],
    )
    with pytest.raises(Exception, match="doc_id"):
        preference_pairs(docs).collect()
    # the in-bound sibling still evaluates (guard adds exactly 0)
    ok = docs.filter(F.col("doc_id") < 10**12)
    assert preference_pairs(ok).count() == 1


# --------------------------------------------------------------------------
# polymorphic (analyze-time) UDTF
# --------------------------------------------------------------------------

def test_udtf_dynamic_schema_is_polymorphic(spark, sf_smoke):
    """The schema really is computed from the call's constant argument:
    n=3 yields (n_toks, w0..w2), a second call with n=1 yields
    (n_toks, w0) from the SAME registration — and a non-constant n is
    rejected at plan time, not silently defaulted."""
    import pytest as _pytest

    from data_table_spark.operators.udfs import UDF_QUERIES
    from data_table_spark.sources.registry import sql_gate

    out = UDF_QUERIES["udf_udtf_dynamic_schema"](spark, sf_smoke)
    assert out.columns == ["doc_id", "n_toks", "w0", "w1", "w2"]
    one = sql_gate(
        spark, sf_smoke,
        "SELECT h.* FROM documents, LATERAL dt_head_cols(text, 1) h "
        "WHERE doc_id = 40",
    )
    assert one.columns == ["n_toks", "w0"]
    (r,) = one.collect()
    first = sql_gate(
        spark, sf_smoke, "SELECT text FROM documents WHERE doc_id = 40"
    ).collect()[0][0]
    toks = first.split()
    assert (r["n_toks"], r["w0"]) == (len(toks), toks[0] if toks else None)
    with _pytest.raises(Exception, match="constant"):
        sql_gate(
            spark, sf_smoke,
            "SELECT h.* FROM documents, "
            "LATERAL dt_head_cols(text, CAST(doc_id AS INT)) h",
        ).collect()
