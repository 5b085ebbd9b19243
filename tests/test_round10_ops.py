"""Invariant tests for the round-10 operators — each pins an algebraic
property or a pure-Python recompute the DuckDB hash oracle cannot state
(the oracle proves value equality; these prove the SEMANTICS are the
intended ones)."""

from __future__ import annotations

import hashlib
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from data_table_spark.operators.dedup import (  # noqa: E402
    WINNOW_W,
    winnowing_fingerprints,
)
from data_table_spark.operators.pipeline import (  # noqa: E402
    DP_SEED,
    EPOCH_SEED,
    SCHEDULE_HEAD,
    dp_counts,
    epoch_schedule,
)
from data_table_spark.operators.similarity import (  # noqa: E402
    MAXSIM_GROUP,
    MAXSIM_N_QUERIES,
    MAXSIM_TOP_K,
    maxsim_topk,
)
from data_table_spark.operators.textstats import (  # noqa: E402
    BM25_B,
    BM25_K1,
    BM25_QUERY,
    bm25_topk,
)
from data_table_spark.sources.registry import load_table  # noqa: E402


def _h32(s: str) -> int:
    """The engines' shared md5-prefix hash (pipeline.hash_bucket core)."""
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _epoch_s(ts) -> int:
    """Epoch seconds of a collected ``events.ts`` value. The column is
    TIMESTAMP (``load_table`` normalizes it), which ``collect()`` returns
    as a naive datetime in the host's local zone; ``.timestamp()`` reads
    a naive datetime in that same zone, so the replayed epoch equals the
    gates' timestampdiff on any host."""
    return int(ts.timestamp())


# --------------------------------------------------------------------------
# winnowing
# --------------------------------------------------------------------------

def _py_winnow(text: str) -> set[int]:
    """Pure-Python replay of winnowing_fingerprints' documented scheme:
    word trigrams, md5-prefix hash, min per w-window of consecutive
    kgram hashes, distinct minima."""
    t = [w for w in text.lower().strip().split() if w]
    if len(t) < 6:
        return set()
    hs = [_h32(" ".join(t[i:i + 3])) for i in range(len(t) - 2)]
    return {
        min(hs[i:i + WINNOW_W]) for i in range(len(hs) - WINNOW_W + 1)
    }


def test_winnowing_matches_python_replay(spark, sf_smoke):
    """Fingerprint SETS equal an independent per-doc Python recompute on
    the full sf0.001 corpus — pins tokenization, hashing, window frame,
    and the end-of-doc window truncation all at once."""
    docs = load_table(spark, "documents", sf_smoke).select("doc_id", "text")
    got: dict[int, set[int]] = {}
    for r in winnowing_fingerprints(docs).collect():
        got.setdefault(r["doc"], set()).add(r["fp"])
    for r in docs.collect():
        exp = _py_winnow(r["text"])
        assert got.get(r["doc_id"], set()) == exp, r["doc_id"]


def test_winnowing_shared_run_guarantee(spark):
    """The winnowing paper's guarantee: two docs sharing any run of
    k + w - 1 = 6 tokens share at least one fingerprint, regardless of
    where the run sits in either doc."""
    shared = "alpha beta gamma delta epsilon zeta"
    a = "x1 y2 " + shared + " q9"
    b = shared + " r7 s8 t9 u0 v1"
    docs = spark.createDataFrame(
        [(1, a), (2, b)], ["doc_id", "text"]
    )
    fps: dict[int, set[int]] = {1: set(), 2: set()}
    for r in winnowing_fingerprints(docs).collect():
        fps[r["doc"]].add(r["fp"])
    assert fps[1] & fps[2], "shared 6-token run produced no shared fp"


# --------------------------------------------------------------------------
# BM25
# --------------------------------------------------------------------------

def test_bm25_matches_python_replay(spark, sf_smoke):
    """Top-k table equals a term-at-a-time Python BM25 with the same
    micro-floor — pins idf form, length normalization, and tie-break."""
    docs = load_table(spark, "documents", sf_smoke).select("doc_id", "text")
    toks = {
        r["doc_id"]: [w for w in r["text"].lower().strip().split() if w]
        for r in docs.collect()
    }
    n = len(toks)
    tot = sum(len(t) for t in toks.values())
    avgdl = tot / n
    scores: dict[int, list[int]] = {}
    for term in BM25_QUERY:
        tfs = {d: t.count(term) for d, t in toks.items() if term in t}
        df = len(tfs)
        idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        for d, tf in tfs.items():
            den = tf + BM25_K1 * (1.0 - BM25_B + BM25_B * len(toks[d]) / avgdl)
            s = math.floor(1_000_000.0 * idf * (tf * (BM25_K1 + 1.0)) / den)
            scores.setdefault(d, []).append(s)
    ranked = sorted(
        ((sum(v), len(v), d) for d, v in scores.items()),
        key=lambda x: (-x[0], x[2]),
    )
    got = bm25_topk(docs).orderBy("rk").collect()
    assert len(got) == min(10, len(ranked))
    for rk, (r, (s, hit, d)) in enumerate(zip(got, ranked), start=1):
        assert (r["rk"], r["doc_id"], r["terms_hit"], r["bm25_micro"]) == (
            rk, d, hit, s
        )


# --------------------------------------------------------------------------
# MaxSim
# --------------------------------------------------------------------------

def test_maxsim_matches_python_replay(spark, sf_smoke):
    """Per-query top-5 equals a brute-force Python recompute using the
    identical sequential-fold double cosine and micro rounding."""
    emb = load_table(spark, "embeddings", sf_smoke).select(
        "vec_id", "embedding"
    )
    groups: dict[int, list[list[float]]] = {}
    for r in emb.collect():
        groups.setdefault(r["vec_id"] // MAXSIM_GROUP, []).append(
            [float(x) for x in r["embedding"]]
        )

    def cos_micro(a, b):
        dot = 0.0
        for x, y in zip(a, b):
            dot += x * y
        na = 0.0
        for x in a:
            na += x * x
        nb = 0.0
        for y in b:
            nb += y * y
        return math.floor(
            1_000_000.0 * (dot / (math.sqrt(na) * math.sqrt(nb))) + 0.5
        )

    got = {
        (r["q"], r["rk"]): (r["d"], r["maxsim_micro"], r["q_tokens"])
        for r in maxsim_topk(emb).collect()
    }
    for q in range(MAXSIM_N_QUERIES):
        qvs = groups[q]
        scored = []
        for d, dvs in groups.items():
            if d == q:
                continue
            s = sum(max(cos_micro(dv, qv) for dv in dvs) for qv in qvs)
            scored.append((-s, d))
        scored.sort()
        for rk, (neg_s, d) in enumerate(scored[:MAXSIM_TOP_K], start=1):
            assert got[(q, rk)] == (d, -neg_s, len(qvs)), (q, rk)


# --------------------------------------------------------------------------
# DP counts
# --------------------------------------------------------------------------

def test_dp_counts_noise_exact_and_bounded(spark, sf_smoke):
    """Released = true + round(Laplace_b=1(md5 uniform)): the noise is
    exactly the documented inverse-CDF draw, and its magnitude is
    bounded by b·ln(2^32) ≈ 22.2 (the md5-uniform tail bound), so a
    release can never be wildly off its true count."""
    docs = load_table(spark, "documents", sf_smoke)
    true = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    for r in dp_counts(docs).collect():
        u = (_h32(f"{DP_SEED}:{r['source']}") + 0.5) / 4294967296.0
        lap = -1.0 * math.copysign(1.0, u - 0.5) * math.log(
            1.0 - 2.0 * abs(u - 0.5)
        )
        exp = true[r["source"]] + math.floor(lap + 0.5)
        assert r["released_count"] == exp, r["source"]
        assert abs(r["released_count"] - true[r["source"]]) <= 23
        assert r["eps_e6"] == 1_000_000


# --------------------------------------------------------------------------
# epoch schedule
# --------------------------------------------------------------------------

def test_epoch_schedule_replay_and_shape(spark, sf_smoke):
    """Each epoch emits positions 1..head over distinct docs; the head
    equals a Python argsort of the documented per-(epoch, doc) hash;
    and at least two epochs order differently (the shuffle shuffles)."""
    docs = load_table(spark, "documents", sf_smoke).select("doc_id")
    ids = [r["doc_id"] for r in docs.collect()]
    got: dict[int, list[int]] = {}
    for r in epoch_schedule(docs).orderBy("epoch", "position").collect():
        got.setdefault(r["epoch"], []).append(r["doc_id"])
    assert sorted(got) == [0, 1, 2]
    for e, order in got.items():
        assert len(order) == SCHEDULE_HEAD
        assert len(set(order)) == SCHEDULE_HEAD
        exp = sorted(
            ids, key=lambda d: (_h32(f"{EPOCH_SEED}:{e}:{d}"), d)
        )[:SCHEDULE_HEAD]
        assert order == exp, e
    assert len({tuple(v) for v in got.values()}) > 1


# --------------------------------------------------------------------------
# ANOVA F
# --------------------------------------------------------------------------

def test_anova_f_matches_python_replay(spark, sf_smoke):
    """k/n/ssb/ssw/f_e6 equal a NumPy-free Python recompute with the
    same per-group term floors — pins the decomposition and the
    floor placement (term-level, before the k-row sums)."""
    from data_table_spark.operators.relational import RELATIONAL_QUERIES

    c = load_table(spark, "customer", sf_smoke).select(
        "c_mktsegment", F.round(F.col("c_acctbal") * 100).cast("long").alias("x")
    ).collect()
    groups: dict[str, list[int]] = {}
    for r in c:
        groups.setdefault(r["c_mktsegment"], []).append(r["x"])
    nn = sum(len(v) for v in groups.values())
    ss = sum(sum(v) for v in groups.values())
    m = ss / nn
    ssw = sum(
        math.floor(
            float(sum(x * x for x in v)) - float(sum(v)) * sum(v) / len(v)
        )
        for v in groups.values()
    )
    ssb = sum(
        math.floor(len(v) * (sum(v) / len(v) - m) * (sum(v) / len(v) - m))
        for v in groups.values()
    )
    k = len(groups)
    f_e6 = math.floor(1_000_000 * (ssb / (k - 1)) / (ssw / (nn - k)))
    row = RELATIONAL_QUERIES["q171_anova_f"](spark, sf_smoke).collect()[0]
    assert (row["k"], row["n"], row["ssb"], row["ssw"], row["f_e6"]) == (
        k, nn, ssb, ssw, f_e6
    )


# --------------------------------------------------------------------------
# Bloom prefilter
# --------------------------------------------------------------------------

def test_bloom_no_false_negatives_and_exact_replay(spark, sf_smoke, sf_dir):
    """The Bloom guarantee (every true match is a candidate) holds at
    both sfs, and all five counts equal a Python bitset replay."""
    from data_table_spark.operators.relational import (
        BLOOM_M,
        BLOOM_SEGMENT,
        RELATIONAL_QUERIES,
    )

    for sf in (sf_smoke, sf_dir):
        keys = {
            r["c_custkey"]
            for r in load_table(spark, "customer", sf)
            .where(F.col("c_mktsegment") == BLOOM_SEGMENT)
            .collect()
        }
        bits = {
            _h32(f"bloom{i}:{k}") % BLOOM_M for k in keys for i in (0, 1)
        }
        probe = [
            r["o_custkey"]
            for r in load_table(spark, "orders", sf).select("o_custkey").collect()
        ]
        cand = [
            p for p in probe
            if _h32(f"bloom0:{p}") % BLOOM_M in bits
            and _h32(f"bloom1:{p}") % BLOOM_M in bits
        ]
        true = [p for p in probe if p in keys]
        row = RELATIONAL_QUERIES["q172_bloom_prefilter"](spark, sf).collect()[0]
        assert row["n_false_neg"] == 0
        assert (
            row["n_probe"], row["n_candidates"], row["n_true"],
            row["n_false_pos"],
        ) == (
            len(probe), len(cand), len(true),
            len([p for p in cand if p not in keys]),
        )
        assert row["n_false_pos"] > 0, "filter sizing degenerate: no FPs"


# --------------------------------------------------------------------------
# second-order paths
# --------------------------------------------------------------------------

def test_second_order_paths_probabilities_partition(spark, sf_smoke):
    """Per (a, b) context the floored conditional probabilities sum to
    within #branches of 1e6 (floor loss only) and counts partition the
    context total exactly."""
    from data_table_spark.operators.relational import RELATIONAL_QUERIES

    rows = RELATIONAL_QUERIES["q173_second_order_paths"](
        spark, sf_smoke
    ).collect()
    assert rows
    ctx: dict = {}
    for r in rows:
        ctx.setdefault((r["a"], r["b"]), []).append((r["n"], r["p_e6"]))
    for (a, b), branches in ctx.items():
        tot = sum(n for n, _ in branches)
        psum = sum(p for _, p in branches)
        assert 1_000_000 - len(branches) < psum <= 1_000_000, (a, b)
        for n, p in branches:
            assert p == (1_000_000 * n) // tot, (a, b, n)


# --------------------------------------------------------------------------
# readability
# --------------------------------------------------------------------------

def test_readability_matches_python_replay(spark, sf_smoke):
    """Per-source Flesch components and score equal a Python recompute
    of the documented integer formula."""
    import re

    from data_table_spark.operators.textstats import TEXTSTATS_QUERIES

    docs = load_table(spark, "documents", sf_smoke).collect()
    agg: dict[str, list[int]] = {}
    for r in docs:
        t = r["text"]
        w = len([x for x in t.lower().strip().split() if x])
        s = len([x for x in re.split(r"[.!?]+", t) if x.strip()])
        y = len(re.findall(r"[aeiouy]+", t.lower()))
        a = agg.setdefault(r["source"], [0, 0, 0, 0])
        a[0] += 1
        a[1] += w
        a[2] += s
        a[3] += y
    got = TEXTSTATS_QUERIES["text_readability"](spark, sf_smoke).collect()
    assert len(got) == len(agg)
    for r in got:
        n, w, s, y = agg[r["source"]]
        exp = 206835 - (1015 * w) // s - (84600 * y) // w
        assert (
            r["n_docs"], r["words"], r["sentences"], r["syllables"],
            r["flesch_e3"],
        ) == (n, w, s, y, exp), r["source"]


# --------------------------------------------------------------------------
# JS divergence
# --------------------------------------------------------------------------

def test_js_divergence_matches_python_replay(spark, sf_smoke):
    """Pairwise JSD equals a Python recompute with the same per-term e9
    floors, and every value sits in the JSD bound [0, ln 2]."""
    from data_table_spark.operators.textstats import TEXTSTATS_QUERIES

    docs = load_table(spark, "documents", sf_smoke).collect()
    cnt: dict[str, dict[str, int]] = {}
    for r in docs:
        d = cnt.setdefault(r["source"], {})
        for w in r["text"].lower().strip().split():
            if w:
                d[w] = d.get(w, 0) + 1
    tot = {s: sum(d.values()) for s, d in cnt.items()}
    got = {
        (r["s1"], r["s2"]): (r["n_words_union"], r["jsd_e9"])
        for r in TEXTSTATS_QUERIES["text_js_divergence"](
            spark, sf_smoke
        ).collect()
    }
    srcs = sorted(cnt)
    n_pairs = 0
    for i, s1 in enumerate(srcs):
        for s2 in srcs[i + 1:]:
            n_pairs += 1
            words = set(cnt[s1]) | set(cnt[s2])
            total = 0
            for w in words:
                c1, c2 = cnt[s1].get(w, 0), cnt[s2].get(w, 0)
                p = c1 / tot[s1]
                q = c2 / tot[s2]
                m = (p + q) / 2.0
                term = (
                    (p * math.log(p / m) if c1 > 0 else 0.0)
                    + (q * math.log(q / m) if c2 > 0 else 0.0)
                ) / 2.0
                total += math.floor(1_000_000_000.0 * term)
            assert got[(s1, s2)] == (len(words), total), (s1, s2)
            assert 0 <= total <= math.ceil(math.log(2) * 1e9)
    assert len(got) == n_pairs


# --------------------------------------------------------------------------
# dedup quota
# --------------------------------------------------------------------------

def test_dedup_quota_counts_partition(spark, sf_smoke):
    """kept + dropped = docs per source; kept equals the number of
    distinct opening-prefix clusters intersecting the source under
    quota 1 with min-doc_id survivorship; and the sweep drops > 0 docs
    (the sizing is not degenerate)."""
    from data_table_spark.operators.pipeline import (
        DUP_PREFIX_TOKENS,
        PIPELINE_QUERIES,
    )

    docs = load_table(spark, "documents", sf_smoke).collect()
    clusters: dict[str, list] = {}
    for r in docs:
        key = " ".join(
            [x for x in r["text"].lower().strip().split() if x]
            [:DUP_PREFIX_TOKENS]
        )
        clusters.setdefault(key, []).append((r["doc_id"], r["source"]))
    kept: dict[str, int] = {}
    dropped: dict[str, int] = {}
    for members in clusters.values():
        members.sort()
        kept[members[0][1]] = kept.get(members[0][1], 0) + 1
        for _, src in members[1:]:
            dropped[src] = dropped.get(src, 0) + 1
    rows = PIPELINE_QUERIES["pipe_dedup_quota"](spark, sf_smoke).collect()
    for r in rows:
        assert r["n_kept"] + r["n_dropped"] == r["n_docs"]
        assert r["n_kept"] == kept.get(r["source"], 0), r["source"]
        assert r["n_dropped"] == dropped.get(r["source"], 0), r["source"]
    assert sum(r["n_dropped"] for r in rows) > 0


# --------------------------------------------------------------------------
# moving median
# --------------------------------------------------------------------------

def test_moving_median_matches_python_replay(spark, sf_smoke):
    """Every (region, day) med2 equals the sum of the two middle order
    statistics of the trailing-7-day daily revenues, recomputed in
    Python from the raw tables."""
    from data_table_spark.operators.relational import RELATIONAL_QUERIES

    o = load_table(spark, "orders", sf_smoke).collect()
    c = {r["c_custkey"]: r["c_nationkey"]
         for r in load_table(spark, "customer", sf_smoke).collect()}
    n = {r["n_nationkey"]: r["n_regionkey"]
         for r in load_table(spark, "nation", sf_smoke).collect()}
    reg = {r["r_regionkey"]: r["r_name"]
           for r in load_table(spark, "region", sf_smoke).collect()}
    daily: dict = {}
    for r in o:
        region = reg[n[c[r["o_custkey"]]]]
        day = r["o_orderdate"].date()
        cents = round(r["o_totalprice"] * 100)
        daily[(region, day)] = daily.get((region, day), 0) + cents
    got = RELATIONAL_QUERIES["q174_moving_median"](
        spark, sf_smoke
    ).collect()
    assert len(got) == len(daily)
    import datetime

    for r in got:
        vals = sorted(
            v for (rg, d), v in daily.items()
            if rg == r["region"]
            and datetime.timedelta(0) <= r["day"] - d <= datetime.timedelta(6)
        )
        k = len(vals)
        exp = vals[(k + 1) // 2 - 1] + vals[k // 2]
        assert (r["n_in_window"], r["med2_cents"]) == (k, exp), r


# --------------------------------------------------------------------------
# SRP Hamming top-k
# --------------------------------------------------------------------------

def test_srp_matches_python_replay(spark, sf_smoke):
    """Sketches, Hamming prefilter, and reranked top-5 equal a pure
    Python replay (md5 signs, exact micro-int projections, the
    sequential-fold cosine)."""
    from data_table_spark.operators.similarity import (
        SIMILARITY_QUERIES,
        SRP_BITS,
        SRP_HAM_MAX,
        SRP_QUERY,
        SRP_TOP_K,
    )

    emb = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in load_table(spark, "embeddings", sf_smoke).collect()
    }
    d = len(next(iter(emb.values())))
    signs = [
        [1 if _h32(f"rp{j}:{i}") % 2 == 0 else -1 for i in range(d)]
        for j in range(SRP_BITS)
    ]
    sk = {}
    for vid, v in emb.items():
        q = [round(x * 1e6) for x in v]
        s = 0
        for j in range(SRP_BITS):
            if sum(sg * qq for sg, qq in zip(signs[j], q)) > 0:
                s |= 1 << j
        sk[vid] = s

    def cos_micro(a, b):
        dot = na = nb = 0.0
        for x, y in zip(a, b):
            dot += x * y
        for x in a:
            na += x * x
        for y in b:
            nb += y * y
        return math.floor(
            1_000_000.0 * (dot / (math.sqrt(na) * math.sqrt(nb))) + 0.5
        )

    qs = sk[SRP_QUERY]
    cand = [
        (vid, bin(sk[vid] ^ qs).count("1"))
        for vid in emb
        if vid != SRP_QUERY and bin(sk[vid] ^ qs).count("1") <= SRP_HAM_MAX
    ]
    scored = sorted(
        (
            (-cos_micro(emb[vid], emb[SRP_QUERY]), vid, h)
            for vid, h in cand
        ),
    )
    got = SIMILARITY_QUERIES["sim_rp_hamming_topk"](
        spark, sf_smoke
    ).orderBy("rk").collect()
    assert len(got) == min(SRP_TOP_K, len(scored))
    for rk, (r, (neg_c, vid, h)) in enumerate(zip(got, scored), start=1):
        assert (r["rk"], r["vec_id"], r["hamming"], r["cos_micro"]) == (
            rk, vid, h, -neg_c
        )


# --------------------------------------------------------------------------
# quiet runs
# --------------------------------------------------------------------------

def test_quiet_runs_matches_python_replay(spark, sf_smoke):
    """Per-doc quiet/run stats equal a Python replay of the WAV chain
    (byte-cycled samples, 16-sample energies, below-mean threshold,
    consecutive-run islands)."""
    from data_table_spark.operators.multimodal import MULTIMODAL_QUERIES

    docs = load_table(spark, "documents", sf_smoke).select(
        "doc_id", "text"
    ).collect()
    exp = {}
    for r in docs:
        data = r["text"].encode()
        cyc = (data * (1 + 64 // len(data)))[:64]
        samples = [(b - 128) * 256 for b in cyc]
        energies = [
            sum(s * s for s in samples[w:w + 16]) for w in range(0, 64, 16)
        ]
        tot = sum(energies)
        quiet = [i for i, e in enumerate(energies) if e * len(energies) < tot]
        runs = []
        for i in quiet:
            if runs and runs[-1][1] == i - 1:
                runs[-1] = (runs[-1][0], i)
            else:
                runs.append((i, i))
        exp[r["doc_id"]] = (
            len(energies), len(quiet), len(runs),
            max((b - a + 1 for a, b in runs), default=0),
        )
    got = MULTIMODAL_QUERIES["media_quiet_runs"](spark, sf_smoke).collect()
    assert len(got) == len(exp)
    for r in got:
        assert (
            r["n_windows"], r["n_quiet"], r["n_runs"], r["longest_run"]
        ) == exp[r["doc_id"]], r["doc_id"]


# --------------------------------------------------------------------------
# mapInPandas flavor
# --------------------------------------------------------------------------

def test_mapinpandas_plan_and_builtin_equivalence(spark, sf_smoke):
    """The gate's plan contains a MapInPandas node (the flavor under
    test), and its output equals the same computation as pure Column
    expressions — the Python batch path agrees with the JVM path."""
    from data_table_spark.operators.udfs import MIP_MIN_QTY, UDF_QUERIES

    df = UDF_QUERIES["udf_mapinpandas_filter"](spark, sf_smoke)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    li = load_table(spark, "lineitem", sf_smoke)
    ref = (
        li.select(
            "l_orderkey", "l_linenumber",
            F.round("l_quantity").cast("long").alias("qty"),
            F.expr(
                "(CAST(ROUND(l_extendedprice * 100) AS BIGINT) "
                "* (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) "
                "div 100"
            ).cast("long").alias("net_cents"),
        )
        .where(F.col("qty") >= MIP_MIN_QTY)
    )
    got = {tuple(r) for r in df.collect()}
    exp = {tuple(r) for r in ref.collect()}
    assert got == exp and got


# --------------------------------------------------------------------------
# late-drop accounting
# --------------------------------------------------------------------------

def test_late_drop_matches_python_replay(spark, sf_smoke):
    """Batch sizes, watermarks, and drop counts equal a Python replay
    of the documented arrival simulation; the watermark is
    non-decreasing and batch 0 never drops."""
    from data_table_spark.streaming.windows import (
        LATE_DELAY_S,
        LATE_JITTER_S,
        LATE_N_BATCHES,
        LATE_WINDOW_S,
        STREAMJOIN_QUERIES,
    )

    ev = load_table(spark, "events", sf_smoke).select(
        "event_id", "ts"
    ).collect()
    rows = [
        (r["event_id"], _epoch_s(r["ts"]))
        for r in ev
    ]
    arr = [
        (s, s + _h32(f"lag:{eid}") % (2 * LATE_JITTER_S) - LATE_JITTER_S)
        for eid, s in rows
    ]
    lo = min(a for _, a in arr)
    hi = max(a for _, a in arr)
    batches: dict[int, list[int]] = {}
    for s, a in arr:
        b = min((a - lo) * LATE_N_BATCHES // (hi - lo + 1), LATE_N_BATCHES - 1)
        batches.setdefault(b, []).append(s)
    got = {
        r["batch"]: (r["n_events"], r["n_dropped"], r["wm_s"])
        for r in STREAMJOIN_QUERIES["stream_late_drop_counts"](
            spark, sf_smoke
        ).collect()
    }
    assert set(got) == set(batches)
    prev_wm = None
    total_drops = 0
    for b in sorted(batches):
        # filter watermark lags one batch behind the advance (the
        # empirically-pinned Spark rule — see the gate's constants)
        wm = max(
            (max(batches[j]) for j in batches if j <= b - 2), default=None
        )
        wm = wm - LATE_DELAY_S if wm is not None else None
        drops = sum(
            1 for s in batches[b]
            if wm is not None and (s // LATE_WINDOW_S + 1) * LATE_WINDOW_S <= wm
        )
        assert got[b] == (len(batches[b]), drops, wm), b
        if wm is not None and prev_wm is not None:
            assert wm >= prev_wm
        prev_wm = wm if wm is not None else prev_wm
        total_drops += drops
    assert got[0][1] == 0 and got[0][2] is None
    assert got[1][1] == 0, "lag-2: batch 1 has no filter watermark yet"
    assert total_drops > 0, "simulation degenerate: nothing dropped"


# --------------------------------------------------------------------------
# hour entropy
# --------------------------------------------------------------------------

def test_hour_entropy_matches_python_replay(spark, sf_smoke):
    """Per-type entropy, peak hour, and shares equal a Python replay
    with identical term floors, and entropy sits in [0, ln 24]."""
    from data_table_spark.operators.relational import RELATIONAL_QUERIES

    ev = load_table(spark, "events", sf_smoke).select(
        "event_type", F.hour("ts").alias("h")
    ).collect()
    cnt: dict = {}
    for r in ev:
        d = cnt.setdefault(r["event_type"], {})
        d[r["h"]] = d.get(r["h"], 0) + 1
    got = {
        r["event_type"]: r
        for r in RELATIONAL_QUERIES["q175_hour_entropy"](
            spark, sf_smoke
        ).collect()
    }
    assert set(got) == set(cnt)
    for et, d in cnt.items():
        t = sum(d.values())
        ent = sum(
            math.floor(1_000_000.0 * (-(c / t) * math.log(c / t)))
            for c in d.values()
        )
        peak_c = max(d.values())
        peak_h = min(h for h, c in d.items() if c == peak_c)
        r = got[et]
        assert (
            r["n_events"], r["n_hours_used"], r["entropy_e6"],
            r["peak_hour"], r["peak_share_e6"],
        ) == (t, len(d), ent, peak_h, (1_000_000 * peak_c) // t), et
        assert -1 <= r["entropy_e6"] <= math.ceil(math.log(24) * 1e6)


# --------------------------------------------------------------------------
# Lorenz deciles
# --------------------------------------------------------------------------

def test_lorenz_deciles_invariants_and_replay(spark, sf_smoke):
    """Deciles partition the customer base (sizes within 1 of N/10),
    cum_share is non-decreasing and ends at exactly 1e6, and every row
    equals a Python replay including zero-spend customers."""
    from data_table_spark.operators.relational import RELATIONAL_QUERIES

    orders = load_table(spark, "orders", sf_smoke).collect()
    cust = [r["c_custkey"]
            for r in load_table(spark, "customer", sf_smoke).collect()]
    sp = {c: 0 for c in cust}
    for r in orders:
        sp[r["o_custkey"]] = sp.get(r["o_custkey"], 0) + round(
            r["o_totalprice"] * 100
        )
    ranked = sorted((v, c) for c, v in sp.items())
    n = len(ranked)
    dec: dict[int, list[int]] = {}
    for i, (v, _) in enumerate(ranked):
        dec.setdefault(i * 10 // n, []).append(v)
    tot = sum(v for v, _ in ranked)
    got = RELATIONAL_QUERIES["q176_lorenz_deciles"](
        spark, sf_smoke
    ).orderBy("decile").collect()
    assert [r["decile"] for r in got] == sorted(dec)
    cum = 0
    prev_share = -1
    for r in got:
        vals = dec[r["decile"]]
        cum += sum(vals)
        assert (r["n_cust"], r["rev_cents"]) == (len(vals), sum(vals))
        assert r["cum_share_e6"] == (1_000_000 * cum) // tot
        assert r["cum_share_e6"] >= prev_share
        prev_share = r["cum_share_e6"]
        assert abs(r["n_cust"] - n / 10) <= 1
    assert got[-1]["cum_share_e6"] == 1_000_000


# --------------------------------------------------------------------------
# b-bit MinHash
# --------------------------------------------------------------------------

def test_bbit_minhash_matches_python_replay(spark, sf_smoke):
    """Bits, agreements, estimates, and exact Jaccards equal a Python
    replay of the documented md5 scheme; the estimator identity
    jhat = (2A - K)/K holds on every emitted row."""
    from data_table_spark.operators.dedup import (
        BBIT_AGREE_MIN,
        BBIT_K,
        DEDUP_QUERIES,
        PAIR_BOUND,
    )

    docs = [
        (r["doc_id"], r["text"])
        for r in load_table(spark, "documents", sf_smoke)
        .where(F.col("doc_id") < PAIR_BOUND)
        .collect()
    ]

    def shingles(t):
        w = t.lower().strip().split()
        return list(dict.fromkeys(
            f"{a} {b}" for a, b in zip(w, w[1:])
        ))

    def h12(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)

    bits = {}
    sh = {}
    for did, t in docs:
        sg = shingles(t)
        sh[did] = set(sg)
        v = 0
        for p in range(BBIT_K):
            mn = min(h12(f"mh{p}␟{s}") for s in sg)
            if mn % 2 == 1:
                v |= 1 << p
        bits[did] = v
    exp = {}
    ids = sorted(bits)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            agree = BBIT_K - bin(bits[a] ^ bits[b]).count("1")
            if agree >= BBIT_AGREE_MIN:
                inter = len(sh[a] & sh[b])
                uni = len(sh[a] | sh[b])
                exp[(a, b)] = (
                    agree,
                    ((2 * agree - BBIT_K) * 1_000_000) // BBIT_K,
                    (1_000_000 * inter) // uni,
                )
    got = {
        (r["a"], r["b"]): (r["agree_bits"], r["jhat_e6"], r["j_e6"])
        for r in DEDUP_QUERIES["dedup_bbit_minhash_est"](
            spark, sf_smoke
        ).collect()
    }
    assert got == exp and got
    for agree, jhat, _ in got.values():
        assert jhat == ((2 * agree - BBIT_K) * 1_000_000) // BBIT_K


# --------------------------------------------------------------------------
# time split
# --------------------------------------------------------------------------

def test_time_split_partitions_and_boundaries(spark, sf_smoke):
    """Per-type counts partition the log, boundaries are the exact 80 %
    cut and +24 h embargo of the observed span, and every split is
    non-empty (the knobs discriminate)."""
    from data_table_spark.operators.pipeline import (
        PIPELINE_QUERIES,
        TIME_EMBARGO_S,
        TIME_SPLIT_FRAC_E2,
    )

    ev = load_table(spark, "events", sf_smoke).select(
        "event_type", "ts"
    ).collect()
    ss = [_epoch_s(r["ts"]) for r in ev]
    lo, hi = min(ss), max(ss)
    cut = lo + ((hi - lo) * TIME_SPLIT_FRAC_E2) // 100
    per_type: dict = {}
    for r, s in zip(ev, ss):
        t = per_type.setdefault(r["event_type"], [0, 0, 0])
        if s < cut:
            t[0] += 1
        elif s < cut + TIME_EMBARGO_S:
            t[1] += 1
        else:
            t[2] += 1
    rows = PIPELINE_QUERIES["pipe_time_split"](spark, sf_smoke).collect()
    assert len(rows) == len(per_type)
    for r in rows:
        tr, em, te = per_type[r["event_type"]]
        assert (r["cut_s"], r["test_from_s"]) == (cut, cut + TIME_EMBARGO_S)
        assert (r["n_train"], r["n_embargo_dropped"], r["n_test"]) == (
            tr, em, te
        )
    assert sum(r["n_embargo_dropped"] for r in rows) > 0
    assert sum(r["n_test"] for r in rows) > 0


# --------------------------------------------------------------------------
# Bollinger breaches
# --------------------------------------------------------------------------

def test_bollinger_matches_python_replay(spark, sf_smoke):
    """Breach counts equal a Python replay of the integer band rule
    over trailing-7-day (current-excluded) daily revenue windows."""
    from data_table_spark.operators.relational import RELATIONAL_QUERIES

    o = load_table(spark, "orders", sf_smoke).collect()
    c = {r["c_custkey"]: r["c_nationkey"]
         for r in load_table(spark, "customer", sf_smoke).collect()}
    n = {r["n_nationkey"]: r["n_regionkey"]
         for r in load_table(spark, "nation", sf_smoke).collect()}
    reg = {r["r_regionkey"]: r["r_name"]
           for r in load_table(spark, "region", sf_smoke).collect()}
    daily: dict = {}
    for r in o:
        key = (reg[n[c[r["o_custkey"]]]], r["o_orderdate"].date())
        daily[key] = daily.get(key, 0) + round(r["o_totalprice"] * 100)
    exp: dict = {}
    for (rg, day), x in daily.items():
        trail = [
            v for (rg2, d2), v in daily.items()
            if rg2 == rg and 1 <= (day - d2).days <= 7
        ]
        nn = len(trail)
        if nn < 3:
            continue
        s, q = sum(trail), sum(v * v for v in trail)
        d = x * nn - s
        breach = d * d > 4 * (nn * q - s * s)
        t = exp.setdefault(rg, [0, 0, 0])
        t[0] += 1
        if breach and d > 0:
            t[1] += 1
        if breach and d < 0:
            t[2] += 1
    got = RELATIONAL_QUERIES["q177_bollinger_breaches"](
        spark, sf_smoke
    ).collect()
    assert len(got) == len(exp)
    for r in got:
        assert (
            r["n_days_judged"], r["n_upper_breaches"], r["n_lower_breaches"]
        ) == tuple(exp[r["region"]]), r["region"]



def test_late_drop_model_matches_real_streaming(spark, tmp_path):
    """The late-drop gate's model IS Spark's behavior: replay the same
    deterministic arrival as 8 real micro-batches through a windowed
    streaming aggregation; the engine's numRowsDroppedByWatermark total
    equals the model's drop total, and the finalized window counts
    equal the batch counts with exactly the model's dropped rows
    excluded. (This test is what exposed the filter-watermark lag: a
    lag-1 model — the guide's wording — overdropped; the engine
    filters against the PREVIOUS batch's watermark.)"""
    import os
    import time as _time
    import uuid

    from pyspark.sql import functions as SF

    from data_table_spark.streaming.windows import (
        LATE_WINDOW_S,
        late_drop_counts,
    )

    N, J, D = 8, 500_000, 600
    events = load_table(spark, "events", "/root/testdata/sf0.001")
    model = late_drop_counts(
        events, n_batches=N, jitter_s=J, delay_s=D
    ).collect()
    expected = sum(r["n_dropped"] for r in model)
    assert expected > 0, "simulation degenerate at N=8"

    rows = events.collect()
    arr = {
        r["event_id"]: _epoch_s(r["ts"])
        + _h32(f"lag:{r['event_id']}") % (2 * J) - J
        for r in rows
    }
    lo = min(arr.values())
    hi = max(arr.values())
    batches: dict[int, list] = {}
    for r in rows:
        b = min((arr[r["event_id"]] - lo) * N // (hi - lo + 1), N - 1)
        batches.setdefault(b, []).append(r)
    # lag-2 python replay for the per-row dropped set
    bmax = {
        b: max(_epoch_s(r["ts"]) for r in v)
        for b, v in batches.items()
    }
    dropped = set()
    for b in sorted(batches):
        wm = max((bmax[j] for j in batches if j <= b - 2), default=None)
        wm = wm - D if wm is not None else None
        for r in batches[b]:
            s = _epoch_s(r["ts"])
            if wm is not None and (s // LATE_WINDOW_S + 1) * LATE_WINDOW_S <= wm:
                dropped.add(r["event_id"])
    assert len(dropped) == expected

    src_dir = str(tmp_path / "late_src")
    os.makedirs(src_dir)
    base = _time.time() - 3600
    for b in sorted(batches):
        before = set(os.listdir(src_dir))
        spark.createDataFrame(batches[b], events.schema).coalesce(1) \
            .write.mode("append").parquet(src_dir)
        for f in set(os.listdir(src_dir)) - before:
            if f.endswith(".parquet"):
                os.utime(
                    os.path.join(src_dir, f), (base + b * 10, base + b * 10)
                )
    name = f"late_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .withWatermark("ts", f"{D} seconds")
        .groupBy(SF.window("ts", "1 hour").alias("w"))
        .agg(SF.count("*").alias("cnt"))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # the state-operator metric is a PARTIAL counter: some late rows
    # are cut by the pre-state EventTimeWatermark filter and never
    # reach the metered operator (observed 242 metered of 298 actually
    # dropped) — so it lower-bounds the true drop count; the emitted
    # window counts below are the semantic ground truth
    metric = sum(
        op.get("numRowsDroppedByWatermark") or 0
        for p in q.recentProgress
        for op in (p.get("stateOperators") or [])
    )
    assert 0 < metric <= expected, (metric, expected)
    wm_final = max(bmax.values()) - D
    got = {
        _epoch_s(r["w"]["start"]): r["cnt"]
        for r in spark.table(name).collect()
    }
    exp: dict[int, int] = {}
    for v in batches.values():
        for r in v:
            if r["event_id"] in dropped:
                continue
            s = _epoch_s(r["ts"])
            ws = (s // LATE_WINDOW_S) * LATE_WINDOW_S
            if ws + LATE_WINDOW_S <= wm_final:
                exp[ws] = exp.get(ws, 0) + 1
    assert got == exp


# --------------------------------------------------------------------------
# grouped-agg pandas UDAF
# --------------------------------------------------------------------------

def test_grouped_agg_udaf_plan_and_builtin_equivalence(spark, sf_smoke):
    """The gate's plan runs an AggregateInPandas node (the UDAF flavor
    under test) and its exact integer outputs equal the same sums via
    built-in aggregates."""
    from data_table_spark.operators.udfs import UDF_QUERIES

    df = UDF_QUERIES["udf_grouped_agg_sums"](spark, sf_smoke)
    df.collect()  # finalize AQE so the physical node is visible
    plan = df._jdf.queryExecution().executedPlan().toString()
    # Spark 4 names the node ArrowAggregatePython (AggregateInPandas
    # in the 3.x line)
    assert "ArrowAggregatePython" in plan or "AggregateInPandas" in plan
    li = load_table(spark, "lineitem", sf_smoke)
    ref = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("long")
            * F.round("l_quantity").cast("long")
        ).cast("long").alias("wsum_cents"),
        F.sum(F.round("l_quantity").cast("long")).cast("long")
        .alias("qty_sum"),
    )
    got = {
        r["l_returnflag"]: (r["n_rows"], r["wsum_cents"], r["qty_sum"])
        for r in df.collect()
    }
    exp = {
        r["l_returnflag"]: (r["n_rows"], r["wsum_cents"], r["qty_sum"])
        for r in ref.collect()
    }
    assert got == exp and got


# --------------------------------------------------------------------------
# Heaps curve
# --------------------------------------------------------------------------

def test_heaps_curve_matches_python_replay(spark, sf_smoke):
    """Checkpoint vocab/token counts and local betas equal a Python
    replay; vocabulary grows at every checkpoint (the unit choice is
    not degenerate) and beta stays in (0, 1) — sub-linear growth."""
    from data_table_spark.operators.textstats import (
        HEAPS_CHECKPOINTS,
        TEXTSTATS_QUERIES,
    )

    docs = load_table(spark, "documents", sf_smoke).collect()
    firsts: dict[str, int] = {}
    doc_nt: dict[int, int] = {}
    for r in docs:
        w = [x for x in r["text"].lower().strip().split() if x]
        if len(w) < 3:
            continue
        tris = [" ".join(w[i:i + 3]) for i in range(len(w) - 2)]
        doc_nt[r["doc_id"]] = len(tris)
        for s in tris:
            if s not in firsts or r["doc_id"] < firsts[s]:
                firsts[s] = r["doc_id"]
    rows = TEXTSTATS_QUERIES["text_heaps_curve"](
        spark, sf_smoke
    ).orderBy("c").collect()
    assert [r["c"] for r in rows] == list(HEAPS_CHECKPOINTS)
    prev = None
    for r in rows:
        v = sum(1 for fd in firsts.values() if fd < r["c"])
        t = sum(nt for d, nt in doc_nt.items() if d < r["c"])
        nd = sum(1 for d in doc_nt if d < r["c"])
        assert (r["n_docs"], r["tokens"], r["vocab"]) == (nd, t, v), r["c"]
        if prev is not None:
            exp_b = math.floor(
                1_000_000.0
                * (math.log(v) - math.log(prev[0]))
                / (math.log(t) - math.log(prev[1]))
            )
            assert r["beta_e6"] == exp_b
            assert 0 < r["beta_e6"] < 1_000_000
            assert v > prev[0], "vocab saturated: degenerate unit"
        else:
            assert r["beta_e6"] is None
        prev = (v, t)
