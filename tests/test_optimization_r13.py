"""Round-13 optimization equivalence tests.

Every gate whose PLAN was restructured this round gets a focused test
pinning the new plan's output against the straightforward (pre-
optimization) formulation on real testdata — so the rewrite can never
drift from the semantics the DuckDB oracle checks, and surfaces that
the old plans exercised (the INTERVAL RANGE frame, the scripting WHILE
loop over the fact table) stay covered.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from data_table_spark.sources.registry import load_table  # noqa: E402


def _rows(df, order_cols):
    return [tuple(r) for r in df.orderBy(*order_cols).collect()]


def test_q193_matches_interval_frame_window(spark, sf_smoke):
    """The probe/prefix-sum form must equal the literal INTERVAL-typed
    RANGE frame window (`RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND
    CURRENT ROW` over raw timestamps) row for row — this is also the
    test that keeps the INTERVAL-frame SQL surface exercised now that
    the gate itself runs the O(rows) plan."""
    e = load_table(spark, "events", sf_smoke).select(
        "event_id", "event_type", "ts",
        F.round(F.col("value") * 100).cast("long").alias("v_c"),
    )
    roll = F.expr(
        "SUM(v_c) OVER (PARTITION BY event_type ORDER BY ts "
        "RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW)"
    )
    reference = (
        e.select(
            "event_id", "event_type", roll.cast("long").alias("roll7d_c")
        )
        .orderBy(F.col("roll7d_c").desc(), F.col("event_id"))
        .limit(20)
    )
    got = entry.queries()["q193_interval_range_frame"](spark, sf_smoke)
    assert _rows(got, ["event_id"]) == _rows(reference, ["event_id"])


def test_q193_boundary_tie_semantics(spark):
    """RANGE-frame edge cases the rewrite must preserve: rows exactly
    7 days apart are IN each other's trailing frame (inclusive
    PRECEDING bound), and ties in ts all share the same frame total."""
    rows = [
        # (event_id, event_type, ts, value)
        (1, "t", "2024-01-01 00:00:00", 1.0),
        (2, "t", "2024-01-08 00:00:00", 2.0),   # exactly 7d after id 1
        (3, "t", "2024-01-08 00:00:00", 4.0),   # tie with id 2
        (4, "t", "2024-01-15 00:00:00.000001", 8.0),  # 7d+1µs after 2/3
        (5, "u", "2024-01-08 00:00:00", 16.0),  # other partition
    ]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.createOrReplaceTempView("events_q193_edge")

    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
        got = {
            r["event_id"]: r["roll7d_c"]
            for r in entry.queries()["q193_interval_range_frame"](
                spark, d
            ).collect()
        }
    # id1 frame: {1} → 100; id2/id3 frames: {1,2,3} → 700 each (7-day
    # bound inclusive, ties share); id4 frame: {4} only (2/3 fall 1µs
    # outside); id5 isolated in its own partition
    assert got == {1: 100, 2: 700, 3: 700, 4: 800, 5: 1600}


def test_q200_matches_scan_per_iteration_scripting(spark, sf_smoke):
    """The power-spine scripting form must return exactly what the
    original scan-per-iteration WHILE loop returns — the scripting
    surface over the raw fact table stays exercised here."""
    spark.conf.set("spark.sql.scripting.enabled", "true")
    load_table(spark, "orders", sf_smoke).createOrReplaceTempView(
        "orders_script_ref"
    )
    reference = spark.sql(
        """
        BEGIN
          DECLARE t BIGINT DEFAULT 1;
          WHILE (SELECT COUNT(*) FROM orders_script_ref
                 WHERE o_totalprice > t)
                >= (SELECT COUNT(*) FROM orders_script_ref) DIV 10 DO
            SET t = t * 2;
          END WHILE;
          SELECT t AS threshold,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM orders_script_ref
                  WHERE o_totalprice > t) AS n_above;
        END
        """
    ).collect()
    got = entry.queries()["q200_sql_scripting_search"](
        spark, sf_smoke
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in reference]


def test_capped_sessions_matches_grouped_map_form(spark, sf_dir):
    """The vectorized mapInPandas fold must emit exactly the sessions
    the original per-key grouped-map recurrence emitted — every split
    decision (gap break, cap break, sid numbering) row-identical."""
    import pandas as pd

    from data_table_spark.operators.udfs import (
        SESSION_CAP_US,
        SESSION_GAP_US,
        capped_sessions,
        load_table,
    )

    gap_us, cap_us = SESSION_GAP_US, SESSION_CAP_US

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        us = pdf["ts"].astype("int64") // 1000
        key = pdf["user_id"].iloc[0]
        out, sid, start, prev, n = [], 0, None, None, 0
        for t in us:
            if start is None or t - prev > gap_us or t - start > cap_us:
                if start is not None:
                    out.append((key, sid, n, start, prev))
                sid += 1
                start, n = t, 0
            n += 1
            prev = t
        if start is not None:
            out.append((key, sid, n, start, prev))
        return pd.DataFrame(
            out,
            columns=["user_id", "sid", "n_events", "start_us", "end_us"],
        )

    e = load_table(spark, "events", sf_dir).select(
        "user_id", "ts", "event_id"
    )
    reference = e.groupBy("user_id").applyInPandas(
        fold,
        "user_id long, sid long, n_events long, start_us long, end_us long",
    )
    got = capped_sessions(e)
    key = ["user_id", "sid"]
    assert _rows(got, key) == _rows(reference, key)


def test_q139_matches_full_remessage_bfs(spark, sf_smoke):
    """The frontier-only messaging form (send only from d == hop) must
    equal the original send-from-every-reached-node form — the BFS
    invariant the optimization rests on: after round k every node with
    d <= k holds its exact distance, so messages from d < hop nodes
    can never lower any neighbor's min."""
    from data_table_spark.operators.relational import _copurchase_edges

    edges = _copurchase_edges(spark, sf_smoke)
    adj = edges.select(
        F.col("a").alias("u"), F.col("b").alias("v")
    ).unionAll(edges.select(F.col("b").alias("u"), F.col("a").alias("v")))
    nodes = adj.select("u").distinct()
    dist = nodes.select(
        "u",
        F.when(F.col("u") < 10, F.lit(0)).otherwise(F.lit(None))
        .cast("int").alias("d"),
    )
    for _hop in range(3):
        msgs = (
            dist.where(F.col("d").isNotNull())   # original: every reached node
            .join(adj, "u")
            .select(F.col("v").alias("u"), (F.col("d") + 1).alias("d"))
        )
        dist = dist.unionAll(msgs).groupBy("u").agg(F.min("d").alias("d"))
    reference = (
        dist.where(F.col("d").isNotNull())
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .select(F.col("d").cast("int").alias("dist"), "n_nodes")
    )
    got = entry.queries()["q139_bounded_bfs"](spark, sf_smoke)
    assert _rows(got, ["dist"]) == _rows(reference, ["dist"])


def test_text_repetition_matches_distinct_size_form(spark, sf_smoke):
    """The single-fold form (best run + distinct-as-run-starts + total,
    cheap token-count pre-filter) must equal the original formulation
    (separate size / array_distinct references and a post-hoc
    n_trigrams > 0 filter) row for row: run starts in a sorted array
    count exactly its distinct elements, and a doc has trigrams iff it
    has >= 3 tokens."""
    from data_table_spark.functions.text import ngrams, tokens
    from data_table_spark.operators.textstats import text_repetition
    from data_table_spark.sources.registry import load_table

    d = load_table(spark, "documents", sf_smoke)
    tri = ngrams(tokens("text"), 3)
    sorted_tri = F.array_sort(tri)
    run = F.aggregate(
        sorted_tri,
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    reference = (
        d.select(
            "doc_id",
            run.cast("long").alias("max_trigram_count"),
            F.size(tri).cast("long").alias("n_trigrams"),
            F.size(F.array_distinct(tri)).cast("long").alias("n_distinct"),
        )
        .where(F.col("n_trigrams") > 0)
        .select(
            "doc_id", "max_trigram_count", "n_trigrams",
            (F.floor(F.col("max_trigram_count") / F.col("n_trigrams") * 10000)
             / 10000).alias("top_share"),
            (F.floor((1 - F.col("n_distinct") / F.col("n_trigrams")) * 10000)
             / 10000).alias("dup_share"),
        )
    )
    got = text_repetition(spark, sf_smoke)
    assert _rows(got, ["doc_id"]) == _rows(reference, ["doc_id"])


def test_q138_matches_explode_window_form(spark, sf_dir):
    """The flat 66-accumulator aggregate must equal the original
    explode-32-rows-per-order + groupBy(b) + rank-window formulation
    (the shape the DuckDB oracle literally describes) on real testdata
    — exact long sums mean the replicate means are the identical
    doubles, not merely close."""
    from pyspark.sql import Window

    B = 32
    o = load_table(spark, "orders", sf_dir).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("x"),
    )
    digests = o.select(
        "x",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(B // 4 - 1)),
                lambda g: F.struct(
                    g.alias("g"),
                    F.md5(
                        F.concat(
                            F.lit("boot"), g, F.lit("_"),
                            F.col("o_orderkey").cast("string"),
                        )
                    ).alias("h"),
                ),
            )
        ).alias("d"),
    ).select("x", "d.g", "d.h")
    rep = digests.select(
        "x",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(3)),
                lambda j: F.struct(
                    (F.col("g") * 4 + j).alias("b"),
                    (
                        F.lit(8)
                        - F.length(
                            F.translate(
                                F.substring(F.col("h"), j * 8 + 1, 8),
                                "01", "",
                            )
                        )
                    ).alias("w"),
                ),
            )
        ).alias("r"),
    ).select("x", "r.b", "r.w")
    means = rep.groupBy("b").agg(
        (F.sum(F.col("w") * F.col("x")) / F.sum("w")).alias("rep_mean")
    )
    ranked = means.select(
        "rep_mean", F.row_number().over(Window.orderBy("rep_mean")).alias("rk")
    )
    ci = ranked.where(F.col("rk").isin(2, B - 1)).agg(
        F.round(F.min("rep_mean"), 6).alias("ci_lo_c"),
        F.round(F.max("rep_mean"), 6).alias("ci_hi_c"),
    )
    full = o.agg(F.round(F.sum("x") / F.count(F.lit(1)), 6).alias("mean_c"))
    expected = (
        full.collect()[0].asDict() | ci.collect()[0].asDict()
        | {"n_replicates": B}
    )
    got = entry.queries()["q138_bootstrap_ci"](spark, sf_dir).collect()[0].asDict()
    assert got == expected


def test_q162_matches_full_neighborhood_form(spark, sf_dir):
    """The half-neighborhood (5-offset) cell join must equal the
    original 3x3 form pair-for-pair INCLUDING the floored meter
    distance — the haversine must be exactly symmetric under the
    endpoint swap the (least, greatest) emission performs."""
    c = load_table(spark, "customer", sf_dir).select("c_custkey")
    h1 = F.pmod(F.col("c_custkey") * F.lit(2654435761), F.lit(1 << 31))
    h2 = F.pmod(
        (F.col("c_custkey") + F.lit(7)) * F.lit(2246822519), F.lit(1 << 31)
    )
    pts = c.select(
        F.col("c_custkey").alias("id"),
        (F.lit(45.0) + F.lit(5.0) * h1 / F.lit(float(1 << 31))).alias("lat"),
        (F.lit(0.0) + F.lit(10.0) * h2 / F.lit(float(1 << 31))).alias("lon"),
    ).select(
        "id", "lat", "lon",
        F.floor("lat").cast("long").alias("cy"),
        F.floor("lon").cast("long").alias("cx"),
    )
    probe = pts.select(
        F.col("id").alias("a"), F.col("lat").alias("la"),
        F.col("lon").alias("oa"),
        F.explode(
            F.expr("flatten(transform(sequence(-1,1), dy -> "
                   "transform(sequence(-1,1), dx -> "
                   "struct(cy + dy AS y, cx + dx AS x))))")
        ).alias("cell"),
    )
    build = pts.select(
        F.col("id").alias("b"), F.col("lat").alias("lb"),
        F.col("lon").alias("ob"),
        F.struct(F.col("cy").alias("y"), F.col("cx").alias("x")).alias("cell"),
    )
    rad = 3.141592653589793 / 180.0
    dist = (
        F.lit(2.0 * 6371000.0)
        * F.asin(
            F.sqrt(
                F.pow(F.sin((F.col("lb") - F.col("la")) * rad / 2), 2)
                + F.cos(F.col("la") * rad)
                * F.cos(F.col("lb") * rad)
                * F.pow(F.sin((F.col("ob") - F.col("oa")) * rad / 2), 2)
            )
        )
    )
    reference = (
        probe.join(build, "cell")
        .where(F.col("a") < F.col("b"))
        .select("a", "b", F.floor(dist).cast("long").alias("dist_m"))
        .where(F.col("dist_m") <= 10_000)
    )
    got = entry.queries()["q162_geo_radius_join"](spark, sf_dir)
    assert _rows(got, ["a", "b"]) == _rows(reference, ["a", "b"])


def test_jaccard_inclusion_exclusion(spark, sf_dir):
    """_jaccard's union-by-inclusion-exclusion must equal the literal
    array_union form on real shingle pairs — exact for DISTINCT arrays
    (every caller passes distinct bigram shingles), and the division is
    the identical integer pair, so the rounded jaccard is byte-equal."""
    from data_table_spark.functions.text import ngrams, tokens
    from data_table_spark.operators.dedup import PAIR_BOUND, _jaccard
    from data_table_spark.sources.registry import load_table

    d = load_table(spark, "documents", sf_dir).where(
        F.col("doc_id") < PAIR_BOUND
    )
    sh = d.select(
        "doc_id", F.array_distinct(ngrams(tokens("text"), 2)).alias("s")
    )
    a = sh.select(F.col("doc_id").alias("a"), F.col("s").alias("sa"))
    b = sh.select(F.col("doc_id").alias("b"), F.col("s").alias("sb"))
    pairs = a.join(b, F.col("a") < F.col("b"))
    union_form = (
        F.size(F.array_intersect("sa", "sb")).cast("double")
        / F.size(F.array_union("sa", "sb")).cast("double")
    )
    diff = pairs.select(
        F.round(_jaccard(F.col("sa"), F.col("sb")), 4).alias("j_new"),
        F.round(union_form, 4).alias("j_old"),
    ).where(
        (F.col("j_new") != F.col("j_old"))
        | (F.col("j_new").isNull() != F.col("j_old").isNull())
    )
    assert diff.count() == 0
