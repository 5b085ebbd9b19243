"""Structured Streaming surface over the events table (SURVEY §2.2 S1-S5).

The reference has no streaming at all (it is an in-memory list library);
this is a north-star extension. Design: every streaming query is defined
ONCE as a transformation function applied to either a batch DataFrame or
a readStream DataFrame — the batch application is the correctness oracle
(batch-equivalence), the stream application is the production path.

events schema: event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
event_type STRING, value DOUBLE, props STRING (TESTDATA.md).

Scale posture: all windows aggregate after a shuffle on (window, keys);
watermarks bound state size — without them, windowed state grows
unboundedly at 100 TB/day ingest. Sliding windows multiply state by
window/slide; session windows keep one open session per key. The
defaults here (10-minute watermark) are deliberate, documented knobs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.registry import load_table

WATERMARK = "10 minutes"


def tumbling_counts(events: DataFrame, width: str = "5 minutes") -> DataFrame:
    """S1: tumbling-window count/sum per event_type."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type", "cnt", "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame, width: str = "10 minutes", slide: str = "5 minutes"
) -> DataFrame:
    """S2: sliding-window counts (each event lands in width/slide windows)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type", "cnt",
        )
    )


def session_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """S3: session windows per user — a session extends while events arrive
    within `gap` of the previous one."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "user_id", "cnt",
        )
    )


def deduped_windowed_counts(events: DataFrame, streaming: bool = False) -> DataFrame:
    """S5: stateful dedup on event_id, then hourly windowed counts per type.

    Streaming uses dropDuplicatesWithinWatermark (bounded state); batch
    uses plain dropDuplicates — identical results when duplicate pairs
    arrive within the watermark, which the replay harness guarantees.
    The downstream agg is WINDOWED so the whole query runs in append mode
    (an unbounded groupBy would demand complete mode = unbounded state)."""
    if streaming:
        deduped = events.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(
            ["event_id"]
        )
    else:
        deduped = events.withWatermark("ts", WATERMARK).dropDuplicates(["event_id"])
    return (
        deduped.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type", "cnt",
        )
    )


def attribution_join(events: DataFrame, lookback: str = "30 minutes") -> DataFrame:
    """S7: stream-stream interval join — attribute each purchase to the
    click(s) by the same user within `lookback` before it (ad-attribution
    shape).

    Both sides carry a watermark and the join condition constrains BOTH
    event-time columns, so Structured Streaming can bound join state:
    a buffered click is dropped once the purchase-side watermark passes
    click_ts + lookback. Without the time bound the state grows without
    limit at 100 TB/day. Works identically on a batch DataFrame (the
    batch-equivalence oracle) — watermarks are no-ops in batch.
    """
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", WATERMARK)
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", WATERMARK)
    cond = (
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {lookback}"))
    )
    return purchases.join(clicks, cond).select(
        "purchase_id", "click_id", "user_id", "purchase_ts", "click_ts",
        "purchase_value",
    )


def left_attribution_join(events: DataFrame, lookback: str = "30 minutes") -> DataFrame:
    """S7b: LEFT OUTER stream-stream interval join — every purchase
    emits, attributed to the click(s) within `lookback` before it or
    with NULL click columns when no click exists. The outer side is the
    semantically distinct streaming surface: Structured Streaming holds
    an unmatched purchase in state and emits its NULL row only once the
    CLICK-side watermark proves no matching click can still arrive
    (watermark-delayed emission — inner matches stream out immediately,
    outer nulls are late by construction). Both watermarks + the
    two-sided time bound keep the state bounded exactly as in the inner
    form. Works identically on a batch DataFrame (batch left join;
    watermarks are no-ops) — the oracle form.
    """
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", WATERMARK)
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", WATERMARK)
    cond = (
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {lookback}"))
    )
    return purchases.join(clicks, cond, "left_outer").select(
        "purchase_id", "click_id", "user_id", "purchase_ts", "click_ts",
        "purchase_value",
    )


def run_stream_over_files(
    spark,
    source_dir: str,
    transform,
    schema,
    checkpoint_dir: str,
    progress_out: list | None = None,
    output_mode: str = "append",
) -> DataFrame:
    """Replay parquet files as a stream (one file per micro-batch, in
    mtime order), apply `transform`, run in ``output_mode`` (append by
    default; update for update-semantics stateful operators) until exhausted,
    return the emitted rows from a memory sink. ``progress_out``, when
    given, receives the query's recentProgress dicts so tests can assert
    state-store behavior (provider engaged, watermark eviction).

    Append mode only emits windows finalized by the watermark — the test
    harness appends a far-future sentinel file so every real window
    finalizes. The production path swaps the file source for Kafka and
    the memory sink for a real sink; `transform` is unchanged."""
    import uuid

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    out = transform(stream)
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if progress_out is not None:
        progress_out.extend(q.recentProgress)
    return spark.table(name)


def stream_attribution(spark, sf_dir):
    """Gate: batch form of the S7 stream-stream attribution join (the
    streaming application is batch-equivalence-tested in
    tests/test_streaming.py::test_s7_attribution_join)."""
    return attribution_join(load_table(spark, "events", sf_dir))


def stream_dedup_counts(spark, sf_dir):
    """Gate: batch form of S5 (stateful dedup on event_id → hourly
    windowed counts). The streaming application
    (dropDuplicatesWithinWatermark) is batch-equivalence-tested in
    tests/test_streaming.py; this gate hash-proves the shared transform.

    Window bounds are projected as epoch seconds so the oracle is
    engine-neutral (F.window aligns 1-hour windows to the epoch hour).
    The fixture's event_id is unique at every sf (verified 0.001-0.1),
    so the oracle's per-event_id MIN() collapse is deterministic AND
    equal to what any dedup survivor policy would produce."""
    out = deduped_windowed_counts(
        load_table(spark, "events", sf_dir), streaming=False
    )
    return out.select(
        F.unix_timestamp("w_start").cast("long").alias("w_start_epoch"),
        F.unix_timestamp("w_end").cast("long").alias("w_end_epoch"),
        "event_type",
        "cnt",
    )


def stream_left_attribution(spark, sf_dir):
    """Gate: batch form of the S7b LEFT OUTER stream-stream join (the
    streaming application — watermark-delayed NULL emission — is
    batch-equivalence-tested in tests/test_streaming.py)."""
    return left_attribution_join(load_table(spark, "events", sf_dir))


STREAMJOIN_QUERIES = {
    "stream_attribution": stream_attribution,
    "stream_left_attribution": stream_left_attribution,
    "stream_dedup_counts": stream_dedup_counts,
}

STREAMJOIN_ORACLE = {
    "stream_attribution":
        "SELECT p.event_id AS purchase_id, c.event_id AS click_id, "
        "p.user_id, p.ts AS purchase_ts, c.ts AS click_ts, "
        "p.value AS purchase_value "
        "FROM events p JOIN events c "
        "ON p.event_type = 'purchase' AND c.event_type = 'click' "
        "AND c.user_id = p.user_id "
        "AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts",
    "stream_left_attribution":
        "SELECT p.event_id AS purchase_id, c.event_id AS click_id, "
        "p.user_id, p.ts AS purchase_ts, c.ts AS click_ts, "
        "p.value AS purchase_value "
        "FROM (SELECT * FROM events WHERE event_type = 'purchase') p "
        "LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c "
        "ON c.user_id = p.user_id "
        "AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts",
    "stream_dedup_counts":
        "WITH d AS ("
        "  SELECT event_id, MIN(ts) ts, MIN(event_type) event_type "
        "  FROM events GROUP BY event_id"
        ") "
        "SELECT (FLOOR(epoch(ts) / 3600) * 3600)::BIGINT AS w_start_epoch, "
        "(FLOOR(epoch(ts) / 3600) * 3600 + 3600)::BIGINT AS w_end_epoch, "
        "event_type, COUNT(*)::BIGINT AS cnt "
        "FROM d GROUP BY 1, 2, 3",
}


#: per-window rank cut for the trending gate (interpolated into the
#: oracle SQL — changing it cannot desynchronize gate and oracle)
TRENDING_K = 3


def trending_counts(events, streaming: bool = False):
    """Hourly (window, event_type) counts — the streaming-native half of
    "trending now". ``streaming=True`` adds the watermark so the result
    runs in append mode; the per-window RANK is deliberately NOT applied
    here because Spark's streaming planner rejects row_number over a
    streaming aggregate (NON_TIME_WINDOW_NOT_SUPPORTED_IN_STREAMING) —
    rank closed windows with :func:`rank_trending` inside foreachBatch."""
    if streaming:
        events = events.withWatermark("ts", "10 minutes")
    return (
        events.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(F.count("*").alias("n_events"))
    )


def rank_trending(counts, k: int = TRENDING_K):
    """Per-window top-k over a CLOSED-window counts frame (the
    foreachBatch half). One shuffle, keyed on the window — cardinality
    is windows, tiny relative to the event input."""
    from pyspark.sql import Window as W

    rnk = F.row_number().over(
        W.partitionBy("w").orderBy(F.col("n_events").desc(), "event_type")
    )
    return (
        counts.withColumn("rnk", rnk)
        .where(F.col("rnk") <= k)
        .select(
            F.unix_timestamp(F.col("w.start")).cast("long").alias("w_start_epoch"),
            "event_type",
            "n_events",
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


def trending_topk(events, k: int = TRENDING_K):
    """Batch composition of both halves (counts → rank)."""
    return rank_trending(trending_counts(events), k)


def stream_topk_trending(spark, sf_dir):
    """Gate: batch form of the hourly trending-top-TRENDING_K transform."""
    return trending_topk(load_table(spark, "events", sf_dir))


def stream_upsert_snapshot(spark, sf_dir):
    """Gate: the REAL foreachBatch MERGE sink (streaming/upsert.py) in
    the hard signal — not a batch stand-in. Events are re-written as a
    4-file parquet directory and replayed one file per micro-batch;
    each batch folds into a fresh versioned snapshot via
    ``latest_per_key_merge`` and the gate returns the live (pointer)
    snapshot. Deterministic and DuckDB-replayable because the fold is
    an order-insensitive max(struct(ts, event_id, …)) per user — any
    batch split converges to the same latest-per-key table (the q59
    pattern, proven batch==stream in tests/test_streaming.py). The
    work dir is one per process and scale, cleaned at entry, so repeated
    gate runs (driver, bench best-of-2) never leak unboundedly and two
    processes building the gate at once never share it."""
    import atexit
    import shutil
    import tempfile

    from .upsert import latest_per_key_merge, run_streaming_upsert

    events = load_table(spark, "events", sf_dir)
    root = os.path.join(
        tempfile.gettempdir(), "dts_stream_upsert_gate", str(os.getpid())
    )
    if not os.path.isdir(root):
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    work = os.path.join(root, os.path.basename(os.path.normpath(sf_dir)))
    shutil.rmtree(work, ignore_errors=True)
    src = os.path.join(work, "src")
    events.repartition(4).write.parquet(src)
    return run_streaming_upsert(
        spark,
        src,
        events.schema,
        os.path.join(work, "state"),
        os.path.join(work, "ck"),
        latest_per_key_merge(["user_id"], ["ts", "event_id"]),
    )


STREAMJOIN_QUERIES["stream_upsert_snapshot"] = stream_upsert_snapshot
STREAMJOIN_ORACLE["stream_upsert_snapshot"] = (
    # latest row per user by (ts, event_id) — event_id is unique at
    # every sf, so the arg-max is deterministic; column order mirrors
    # the events schema the sink preserves
    "SELECT event_id, ts, user_id, event_type, value, props FROM ("
    "  SELECT *, ROW_NUMBER() OVER ("
    "    PARTITION BY user_id ORDER BY ts DESC, event_id DESC"
    "  ) rn FROM events"
    ") WHERE rn = 1"
)


STREAMJOIN_QUERIES["stream_topk_trending"] = stream_topk_trending
STREAMJOIN_ORACLE["stream_topk_trending"] = (
    "WITH c AS ("
    "  SELECT (FLOOR(epoch(ts) / 3600) * 3600)::BIGINT w_start_epoch, "
    "  event_type, COUNT(*)::BIGINT n_events "
    "  FROM events GROUP BY 1, 2"
    ") "
    "SELECT w_start_epoch, event_type, n_events, rnk FROM ("
    "  SELECT *, ROW_NUMBER() OVER ("
    "    PARTITION BY w_start_epoch ORDER BY n_events DESC, event_type"
    "  )::BIGINT rnk FROM c"
    f") WHERE rnk <= {TRENDING_K}"
)


def stream_sliding_counts(spark, sf_dir):
    """Gate: batch form of S2 (sliding 10-minute windows every 5
    minutes) through the SAME transform the stream runs (withWatermark
    is a no-op on batch input). Every event lands in width/slide = 2
    windows; the oracle replays F.window's epoch-aligned slide
    arithmetic with a 2-offset UNNEST. Epoch-seconds projection keeps
    the window bounds engine-neutral, as in stream_dedup_counts."""
    out = sliding_counts(load_table(spark, "events", sf_dir))
    return out.select(
        F.unix_timestamp("w_start").cast("long").alias("w_start_epoch"),
        F.unix_timestamp("w_end").cast("long").alias("w_end_epoch"),
        "event_type",
        "cnt",
    )


STREAMJOIN_QUERIES["stream_sliding_counts"] = stream_sliding_counts
STREAMJOIN_ORACLE["stream_sliding_counts"] = (
    # F.window(ts, 10m, 5m): event t belongs to the two slide-aligned
    # windows starting at floor(t/300)*300 and that minus 300
    "WITH w AS ("
    "  SELECT event_type, "
    "    (FLOOR(epoch(ts) / 300) * 300 - k.off)::BIGINT AS ws "
    "  FROM events, (VALUES (0), (300)) k(off)"
    ") "
    "SELECT ws AS w_start_epoch, (ws + 600)::BIGINT AS w_end_epoch, "
    "  event_type, COUNT(*)::BIGINT AS cnt "
    "FROM w GROUP BY 1, 2, 3"
)


def stream_session_counts(spark, sf_dir):
    """Gate: batch form of S3 — Spark's NATIVE ``F.session_window``
    (via the shared session_counts transform) hash-proven against an
    independent gaps-and-islands oracle. This is a genuinely different
    code path from q34's hand-rolled islands: the built-in operator
    merges events whose gap is STRICTLY under 30 minutes (an event
    extends the session to [ts, ts+gap)), so the oracle breaks on
    diff >= gap, computed in EXACT integer microseconds (epoch_us) —
    epoch() doubles lose sub-microsecond exactness at 2024 magnitudes.
    Session end = last event + gap, floored to epoch seconds the same
    way unix_timestamp floors."""
    out = session_counts(load_table(spark, "events", sf_dir))
    return out.select(
        F.unix_timestamp("w_start").cast("long").alias("w_start_epoch"),
        F.unix_timestamp("w_end").cast("long").alias("w_end_epoch"),
        "user_id",
        "cnt",
    )


STREAMJOIN_QUERIES["stream_session_counts"] = stream_session_counts
STREAMJOIN_ORACLE["stream_session_counts"] = (
    "WITH g AS ("
    "  SELECT user_id, ts, event_id, "
    "    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER ("
    "      PARTITION BY user_id ORDER BY ts, event_id) >= 1800000000 "
    "    THEN 1 ELSE 0 END AS brk "
    "  FROM events), "
    "s AS ("
    "  SELECT user_id, ts, SUM(brk) OVER ("
    "    PARTITION BY user_id ORDER BY ts, event_id "
    "    ROWS UNBOUNDED PRECEDING) AS sid "
    "  FROM g) "
    "SELECT CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS w_start_epoch, "
    "  CAST(FLOOR(epoch(MAX(ts))) + 1800 AS BIGINT) AS w_end_epoch, "
    "  user_id, COUNT(*)::BIGINT AS cnt "
    "FROM s GROUP BY user_id, sid"
)


def tumbling_distinct_users(
    events: DataFrame, width: str = "10 minutes"
) -> DataFrame:
    """S2b: tumbling-window DISTINCT-USER counts — the audience-reach
    sibling of sliding_counts. Streaming forbids COUNT(DISTINCT), so
    this is the STREAMING-LEGAL two-stage form (the production recipe):
    stage 1 aggregates per (window, type, user) — the state IS the
    distinct set, keyed and watermark-evicted; stage 2 re-windows the
    stage-1 rows via window_time() and counts them — the Spark 3.4+
    chained-stateful-operator pattern. On batch input the same plan
    collapses to two hash aggregates. At 100 TB the stage-1 state is
    user-bounded per window; approx_count_distinct is the documented
    sketch alternative when even that is too wide."""
    per_user = (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", width).alias("w"), "event_type", "user_id")
        .agg(F.count("*").alias("events_in_window"))
    )
    return (
        per_user.groupBy(
            F.window(F.window_time("w"), width).alias("w2"), "event_type"
        )
        .agg(F.count("*").alias("n_users"))
        .select(
            F.col("w2.start").alias("w_start"),
            F.col("w2.end").alias("w_end"),
            "event_type", "n_users",
        )
    )


def stream_tumbling_distinct(spark, sf_dir):
    """Gate: batch form of S2b through the SAME two-stage transform the
    stream runs; the oracle replays tumbling epoch alignment with a
    plain COUNT(DISTINCT)."""
    out = tumbling_distinct_users(load_table(spark, "events", sf_dir))
    return out.select(
        F.unix_timestamp("w_start").cast("long").alias("w_start_epoch"),
        F.unix_timestamp("w_end").cast("long").alias("w_end_epoch"),
        "event_type",
        "n_users",
    )


STREAMJOIN_QUERIES["stream_tumbling_distinct"] = stream_tumbling_distinct
STREAMJOIN_ORACLE["stream_tumbling_distinct"] = (
    "SELECT (FLOOR(epoch(ts) / 600) * 600)::BIGINT AS w_start_epoch, "
    "  (FLOOR(epoch(ts) / 600) * 600 + 600)::BIGINT AS w_end_epoch, "
    "  event_type, COUNT(DISTINCT user_id)::BIGINT AS n_users "
    "FROM events GROUP BY 1, 2, 3"
)


# --------------------------------------------------------------------------
# S9: stream-static enrichment join (the dimension-join half of streaming)
# --------------------------------------------------------------------------

def static_enriched_counts(events, customers, streaming: bool = False):
    """Stream-STATIC join — the remaining Structured Streaming join
    surface (S7/S7b cover stream-stream): a live event stream enriched
    against a static dimension, then windowed per enriched attribute.
    Spark plans the static side as a broadcast rebuilt per micro-batch,
    so the stream never shuffles for the join — the canonical "enrich
    events with a dim table" deployment shape at any scale (the dim is
    dim-sized; were it fact-sized the right design is a stream-stream
    join or a pre-materialized mapping, not this operator).

    Counts + exact distinct users per (hour window, segment), via the
    S2b two-stage streaming-legal distinct (streaming forbids
    COUNT(DISTINCT)): stage 1 keys state by (window, segment, user),
    stage 2 re-windows and counts the stage-1 rows while summing their
    per-user event counts back to the window total. Distinct-per-window
    is deterministic on both engines, unlike a double SUM over the
    stream's float values (ulp-order-sensitive; excluded from the hash
    surface deliberately)."""
    if streaming:
        events = events.withWatermark("ts", "10 minutes")
    dim = customers.select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    per_user = (
        events.join(F.broadcast(dim), "user_id")
        .groupBy(
            F.window("ts", "1 hour").alias("w"), "c_mktsegment", "user_id"
        )
        .agg(F.count(F.lit(1)).alias("events_in_window"))
    )
    return (
        per_user.groupBy(
            F.window(F.window_time("w"), "1 hour").alias("w2"),
            "c_mktsegment",
        )
        .agg(
            F.sum("events_in_window").alias("n_events"),
            F.count(F.lit(1)).alias("n_users"),
        )
        .select(
            F.col("w2.start").alias("w_start"),
            F.col("w2.end").alias("w_end"),
            "c_mktsegment", "n_events", "n_users",
        )
    )


def stream_static_enrich(spark, sf_dir):
    """Gate: batch form of the S9 stream-static enrichment (the
    streaming application is batch-equivalence-tested in
    tests/test_streaming.py::test_s9_stream_static_enrich)."""
    out = static_enriched_counts(
        load_table(spark, "events", sf_dir),
        load_table(spark, "customer", sf_dir),
    )
    return out.select(
        F.unix_timestamp("w_start").cast("long").alias("w_start_epoch"),
        F.unix_timestamp("w_end").cast("long").alias("w_end_epoch"),
        "c_mktsegment",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_users").cast("long").alias("n_users"),
    )


STREAMJOIN_QUERIES["stream_static_enrich"] = stream_static_enrich
STREAMJOIN_ORACLE["stream_static_enrich"] = (
    "SELECT (FLOOR(epoch(e.ts) / 3600) * 3600)::BIGINT AS w_start_epoch, "
    "  (FLOOR(epoch(e.ts) / 3600) * 3600 + 3600)::BIGINT AS w_end_epoch, "
    "  c.c_mktsegment, COUNT(*)::BIGINT AS n_events, "
    "  COUNT(DISTINCT e.user_id)::BIGINT AS n_users "
    "FROM events e JOIN customer c ON e.user_id = c.c_custkey "
    "GROUP BY 1, 2, 3"
)


def full_attribution_join(events: DataFrame, lookback: str = "30 minutes") -> DataFrame:
    """S7c: FULL OUTER stream-stream interval join — the remaining join
    mode after S7 (inner) and S7b (left): every purchase emits (matched
    or NULL-click), AND every never-matched click emits with NULL
    purchase columns — the both-sides audit ("which purchases lack
    clicks AND which clicks never converted") run as one streaming
    query. Both unmatched sides are watermark-delayed: a row's NULL
    emission waits until the OTHER side's watermark proves no partner
    can still arrive; both watermarks + the two-sided time bound keep
    state bounded exactly as in the inner form. Identical on a batch
    DataFrame (batch full join) — the oracle form.

    The user_id output column coalesces the two sides (on an unmatched
    click only c_user is non-null) so the result has ONE user key
    regardless of which side matched."""
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", WATERMARK)
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", WATERMARK)
    cond = (
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {lookback}"))
    )
    return purchases.join(clicks, cond, "full_outer").select(
        "purchase_id", "click_id",
        F.coalesce("user_id", "c_user").alias("user_id"),
        "purchase_ts", "click_ts", "purchase_value",
    )


def stream_full_attribution(spark, sf_dir):
    """Gate: batch form of the S7c FULL OUTER stream-stream interval
    join (the streaming application — both-sides watermark-delayed NULL
    emission — is batch-equivalence-tested in tests/test_streaming.py)."""
    return full_attribution_join(load_table(spark, "events", sf_dir))


STREAMJOIN_QUERIES["stream_full_attribution"] = stream_full_attribution
STREAMJOIN_ORACLE["stream_full_attribution"] = (
    "SELECT p.event_id AS purchase_id, c.event_id AS click_id, "
    "COALESCE(p.user_id, c.user_id) AS user_id, "
    "p.ts AS purchase_ts, c.ts AS click_ts, "
    "p.value AS purchase_value "
    "FROM (SELECT * FROM events WHERE event_type = 'purchase') p "
    "FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c "
    "ON c.user_id = p.user_id "
    "AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts"
)


# --------------------------------------------------------------------------
# watermark late-drop accounting (deterministic arrival replay)
# --------------------------------------------------------------------------

#: late-drop simulation knobs: arrival = event time + a deterministic
#: md5 "network delay" of ±LATE_JITTER_S seconds; the stream is split
#: into LATE_N_BATCHES micro-batches by arrival quantile. The filter
#: watermark in force while batch k processes is max(event time over
#: batches ≤ k−2) − LATE_DELAY_S: Spark drops late records against the
#: PREVIOUS batch's watermark while evicting state against the current
#: one — pinned EMPIRICALLY against the real engine (a lag-1 model
#: matched the Structured Streaming guide's wording but the memory-sink
#: window counts disproved it: a row later than the freshly-advanced
#: watermark still aggregates for one more batch; the per-batch
#: minimal experiments are in tests/test_round10_ops.py). An event is
#: dropped iff its hour-window END ≤ that filter watermark. Jitter is
#: ±24 h because under lag-2 lateness must exceed TWO batch spans
#: (~11 h each at N=64) to ever trip: 444 drops across 62/64 batches
#: at sf0.001, 5709 at sf0.01 (the original ±6 h jitter dropped ZERO
#: rows under the real rule — recalibrated when the equivalence test
#: exposed the lag).
LATE_N_BATCHES = 64
LATE_JITTER_S = 86_400
LATE_DELAY_S = 600
LATE_WINDOW_S = 3_600


def late_drop_counts(
    events: DataFrame,
    n_batches: int = LATE_N_BATCHES,
    jitter_s: int = LATE_JITTER_S,
    delay_s: int = LATE_DELAY_S,
) -> DataFrame:
    """Per-micro-batch watermark drop accounting — the observability
    readout behind Spark's numRowsDroppedByWatermark metric, made
    engine-checkable: replay the stream with a deterministic
    out-of-order arrival (event time + md5 jitter), advance the
    watermark exactly as Structured Streaming does (end of each batch,
    max event time − delay), and count the events whose hour window
    had already been evicted when they arrived. The answer every
    pipeline owner needs when choosing a watermark delay: how much
    data does THIS delay actually throw away?

    Exactness: epoch seconds, jitter, quantile batch assignment,
    cumulative watermark, and the window-end comparison are all exact
    integer arithmetic.

    Scale shape: one map-side jitter + batch assignment (global
    min/max arrival ride a 1-row broadcast), one map-combinable
    per-batch aggregate (max event time, window-end histogram folded
    to counts via a second tiny pass), windows only over the
    |batches|-row table. The events table is scanned once."""
    us = F.expr(
        "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    jitter = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("lag:"), F.col("event_id").cast("string"))),
                1, 8,
            ),
            16, 10,
        ).cast("long") % (2 * jitter_s)
        - jitter_s
    )
    e = events.select(
        F.col("event_id"),
        us.alias("s"),
    ).select("event_id", "s", (F.col("s") + jitter).alias("arr"))
    span = e.agg(
        F.min("arr").alias("lo"), F.max("arr").alias("hi")
    )
    b = e.crossJoin(F.broadcast(span)).select(
        "s",
        F.least(
            F.expr(
                f"((arr - lo) * {n_batches}) div (hi - lo + 1)"
            ),
            F.lit(n_batches - 1),
        ).cast("long").alias("batch"),
    )
    from pyspark.sql import Window

    per_batch = b.groupBy("batch").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.max("s").alias("max_ts_s"),
    )
    # -2, not -1: the late-record filter runs against the watermark of
    # the batch BEFORE the row's batch (empirically pinned; see the
    # module constant's comment), so the cumulative max excludes both
    # the current batch and its immediate predecessor
    wm_w = (
        Window.orderBy("batch").rowsBetween(Window.unboundedPreceding, -2)
    )
    wm = per_batch.select(
        "batch", "n_events",
        (F.max("max_ts_s").over(wm_w) - delay_s).alias("wm_s"),
    )
    wend = (F.expr(f"s div {LATE_WINDOW_S}") + 1) * LATE_WINDOW_S
    # the wm/drops tables are ≤ LATE_N_BATCHES rows, but they sit
    # behind enough aggregation that Catalyst's size estimate goes
    # unknown at scale and flipped the probe join to sort-merge at the
    # 10× smoke (dim-fell-out-of-broadcast audit) — hint them
    drops = (
        b.select("batch", wend.alias("wend"))
        .join(F.broadcast(wm.select("batch", "wm_s")), "batch")
        .where(F.col("wm_s").isNotNull() & (F.col("wend") <= F.col("wm_s")))
        .groupBy("batch")
        .agg(F.count(F.lit(1)).cast("long").alias("n_dropped"))
    )
    return (
        wm.join(F.broadcast(drops), "batch", "left")
        .select(
            "batch", "n_events",
            F.coalesce("n_dropped", F.lit(0)).cast("long").alias("n_dropped"),
            F.col("wm_s").cast("long").alias("wm_s"),
        )
    )


def stream_late_drop_counts(spark, sf_dir):
    """Gate: watermark drop accounting over the deterministic arrival
    replay of the events table."""
    return late_drop_counts(load_table(spark, "events", sf_dir))


STREAMJOIN_QUERIES["stream_late_drop_counts"] = stream_late_drop_counts
STREAMJOIN_ORACLE["stream_late_drop_counts"] = (
    "WITH e AS ("
    # epoch_us // 1e6, NOT epoch(ts)::BIGINT: the cast ROUNDS the
    # sub-second fraction (caught as a 1 s wm_s skew on first run)
    # while Spark's timestampdiff(SECOND, ...) floors — the q167/q168
    # exact-micros posture
    "  SELECT epoch_us(ts) // 1000000 AS s, "
    "    epoch_us(ts) // 1000000 "
    "      + ('0x' || substr(md5('lag:' || CAST(event_id AS VARCHAR)), "
    f"        1, 8))::BIGINT % {2 * LATE_JITTER_S} - {LATE_JITTER_S} AS arr "
    "  FROM events), "
    "span AS (SELECT MIN(arr) AS lo, MAX(arr) AS hi FROM e), "
    "b AS ("
    "  SELECT s, LEAST(((arr - lo) * "
    f"    {LATE_N_BATCHES}) // (hi - lo + 1), {LATE_N_BATCHES - 1}) "
    "    AS batch "
    "  FROM e, span), "
    "per_batch AS ("
    "  SELECT batch, CAST(COUNT(*) AS BIGINT) AS n_events, "
    "    MAX(s) AS max_ts_s "
    "  FROM b GROUP BY 1), "
    "wm AS ("
    "  SELECT batch, n_events, "
    "    MAX(max_ts_s) OVER (ORDER BY batch ROWS BETWEEN UNBOUNDED "
    f"      PRECEDING AND 2 PRECEDING) - {LATE_DELAY_S} AS wm_s "
    "  FROM per_batch), "
    "drops AS ("
    "  SELECT b.batch, CAST(COUNT(*) AS BIGINT) AS n_dropped "
    "  FROM b JOIN wm ON b.batch = wm.batch "
    f"  WHERE wm.wm_s IS NOT NULL AND (s // {LATE_WINDOW_S} + 1) "
    f"    * {LATE_WINDOW_S} <= wm.wm_s "
    "  GROUP BY 1) "
    "SELECT CAST(wm.batch AS BIGINT) AS batch, wm.n_events, "
    "  COALESCE(d.n_dropped, 0) AS n_dropped, "
    "  CAST(wm.wm_s AS BIGINT) AS wm_s "
    "FROM wm LEFT JOIN drops d ON wm.batch = d.batch"
)


def ohlc_bars_stream(events: DataFrame, width: str = "1 day") -> DataFrame:
    """S10: daily OHLC candlestick bars per event_type as a STREAMING
    aggregate — q186's market-data rollup in append mode. Open/close
    ride min/max over a packed (order-key, value) STRUCT (struct
    ordering is lexicographic, the order key is the same exact
    DECIMAL(38,0) epoch-µs·10¹² + event_id q186 uses), which keeps the
    whole bar a plain partial-mergeable aggregate — every micro-batch
    folds its slice, merge is struct-min/max, state per (window, type)
    is four scalars. No min_by dependency, no per-window sort."""
    ordkey = (
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP'1970-01-01 00:00:00', ts)"
        ).cast("decimal(38,0)")
        * F.lit(10**12).cast("decimal(38,0)")
        + F.col("event_id")
        # + 0 while the id fits its 10^12 digit slot; raises otherwise
        # (round-11 ADVICE — same guard as q186's batch ordkey)
        + F.coalesce(
            F.assert_true(
                F.col("event_id") < F.lit(10**12).cast("long"),
                F.lit(
                    "ohlc_bars_stream: event_id >= 10^12 would bleed"
                    " into the timestamp digits of the ordering key"
                ),
            ).cast("decimal(38,0)"),
            F.lit(0).cast("decimal(38,0)"),
        )
    )
    v_c = F.round(F.col("value") * 100).cast("long")
    keyed = events.select(
        "ts", "event_type",
        F.struct(ordkey.alias("ok"), v_c.alias("v")).alias("kv"),
        v_c.alias("v_c"),
    )
    return (
        keyed.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.min("kv").alias("_first"),
            F.max("kv").alias("_last"),
            F.max("v_c").alias("high_c"),
            F.min("v_c").alias("low_c"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            F.col("_first.v").alias("open_c"),
            "high_c", "low_c",
            F.col("_last.v").alias("close_c"),
            F.col("cnt").cast("long").alias("cnt"),
        )
    )


def stream_ohlc_bars(spark, sf_dir):
    """Gate: batch form of S10 through the same transform the stream
    runs (withWatermark is a no-op on batch input); epoch-seconds
    projection keeps window bounds engine-neutral. Oracle replays the
    epoch-day tumbling alignment + arg-min/max over the same packed
    ordering key."""
    out = ohlc_bars_stream(load_table(spark, "events", sf_dir))
    return out.select(
        F.unix_timestamp("w_start").cast("long").alias("w_start_epoch"),
        "event_type", "open_c", "high_c", "low_c", "close_c", "cnt",
    )


STREAMJOIN_QUERIES["stream_ohlc_bars"] = stream_ohlc_bars
STREAMJOIN_ORACLE["stream_ohlc_bars"] = (
    "WITH e AS ("
    "  SELECT event_type, "
    "    (FLOOR(epoch(ts) / 86400) * 86400)::BIGINT AS ws, "
    "    CAST(ROUND(value * 100) AS BIGINT) AS v_c, "
    "    epoch_us(ts)::HUGEINT * 1000000000000 + event_id AS ok "
    "  FROM events) "
    "SELECT ws AS w_start_epoch, event_type, "
    "  arg_min(v_c, ok) AS open_c, "
    "  CAST(MAX(v_c) AS BIGINT) AS high_c, "
    "  CAST(MIN(v_c) AS BIGINT) AS low_c, "
    "  arg_max(v_c, ok) AS close_c, "
    "  CAST(COUNT(*) AS BIGINT) AS cnt "
    "FROM e GROUP BY 1, 2"
)


def latest_state_stream(events: DataFrame) -> DataFrame:
    """S11: streaming CDC latest-per-key compaction — the materialized
    "current state per user" view, UPDATE-mode legal: one groupBy
    aggregate whose open/close analog is a single max over a packed
    (order-key, payload) STRUCT (lexicographic struct ordering again;
    same exact DECIMAL(38,0) epoch-µs·10¹² + event_id key as S10, with
    the same in-plan event_id digit-slot guard). State per user is ONE
    struct + a count — micro-batches fold their slice, merge is
    struct-max, so it scales to any key cardinality the state store
    holds; q59's row_number formulation is the batch cousin, but a
    window is not a streaming-legal operator and would buffer whole
    partitions.

    Scale shape: map-side combinable, one shuffle on user_id."""
    ordkey = (
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP'1970-01-01 00:00:00', ts)"
        ).cast("decimal(38,0)")
        * F.lit(10**12).cast("decimal(38,0)")
        + F.col("event_id")
        + F.coalesce(
            F.assert_true(
                F.col("event_id") < F.lit(10**12).cast("long"),
                F.lit(
                    "latest_state_stream: event_id >= 10^12 would bleed"
                    " into the timestamp digits of the ordering key"
                ),
            ).cast("decimal(38,0)"),
            F.lit(0).cast("decimal(38,0)"),
        )
    )
    keyed = events.select(
        "user_id",
        F.struct(
            ordkey.alias("ok"),
            F.col("event_type").alias("typ"),
            F.round(F.col("value") * 100).cast("long").alias("v_c"),
            F.col("ts").alias("ts"),
        ).alias("kv"),
    )
    return (
        keyed.groupBy("user_id")
        .agg(
            F.max("kv").alias("_last"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .select(
            "user_id",
            F.col("_last.typ").alias("last_type"),
            F.col("_last.v_c").alias("last_value_c"),
            F.unix_timestamp(F.col("_last.ts")).cast("long").alias(
                "last_ts_epoch"
            ),
            "n_events",
        )
    )


def stream_latest_state(spark, sf_dir):
    """Gate: batch form of S11 through the same transform the stream
    runs. Oracle replays the arg-max over the identical packed ordering
    key."""
    return latest_state_stream(load_table(spark, "events", sf_dir))


STREAMJOIN_QUERIES["stream_latest_state"] = stream_latest_state
STREAMJOIN_ORACLE["stream_latest_state"] = (
    "WITH e AS ("
    "  SELECT user_id, event_type, "
    "    CAST(ROUND(value * 100) AS BIGINT) AS v_c, "
    # epoch_us // 1e6 FLOORS like Spark's unix_timestamp; a bare
    # epoch(ts)::BIGINT would ROUND half-up on sub-second timestamps
    "    epoch_us(ts) // 1000000 AS ts_epoch, "
    "    epoch_us(ts)::HUGEINT * 1000000000000 + event_id AS ok "
    "  FROM events) "
    "SELECT user_id, "
    "  arg_max(event_type, ok) AS last_type, "
    "  arg_max(v_c, ok) AS last_value_c, "
    "  arg_max(ts_epoch, ok) AS last_ts_epoch, "
    "  CAST(COUNT(*) AS BIGINT) AS n_events "
    "FROM e GROUP BY user_id"
)
