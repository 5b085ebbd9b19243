"""S1-S5 batch-equivalence: every streaming window query must produce the
same result as its own batch application (SURVEY §2.2, §5.2.4).

Replay harness: real events in one parquet file, then a far-future
sentinel event in a second file (newer mtime) so the watermark passes
every real window and append mode emits them all. The sentinel's own
window never finalizes, so batch-side expectation = transform(real events).
"""

from __future__ import annotations

import os
import shutil
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from data_table_spark.sources.registry import load_table  # noqa: E402
from data_table_spark.streaming.windows import (  # noqa: E402
    deduped_windowed_counts,
    ohlc_bars_stream,
    run_stream_over_files,
    session_counts,
    sliding_counts,
    tumbling_distinct_users,
    tumbling_counts,
)

SENTINEL_OFFSET_DAYS = 30


def _sentinel_df(events):
    """One far-future event derived from the LATEST real event, so the
    final watermark clears every real window (an early-row sentinel +30d
    can land before the last window's end and leave it unfinalized)."""
    return events.orderBy(F.col("ts").desc()).limit(1).select(
        F.lit(-1).cast("long").alias("event_id"),
        (F.col("ts") + F.expr(f"INTERVAL {SENTINEL_OFFSET_DAYS} DAYS")).alias("ts"),
        F.col("user_id"), F.col("event_type"), F.col("value"), F.col("props"),
    )


def _stamp_mtimes(dirpath: str) -> None:
    """Give each parquet part file a distinct ascending mtime in its write
    order so the file stream source replays deterministically (sub-second
    writes can otherwise tie or invert)."""
    parts = sorted(
        (os.path.getmtime(os.path.join(dirpath, f)), f)
        for f in os.listdir(dirpath)
        if f.endswith(".parquet")
    )
    base = time.time() - 3600
    for i, (_, f) in enumerate(parts):
        os.utime(os.path.join(dirpath, f), (base + i * 10, base + i * 10))


@pytest.fixture(scope="module")
def replay(spark, sf_smoke, tmp_path_factory):
    """(source_dir, batch_events_df) — real events + sentinel file."""
    base = tmp_path_factory.mktemp("stream")
    src = str(base / "src")
    events = load_table(spark, "events", sf_smoke)
    events.coalesce(1).write.mode("overwrite").parquet(src)
    time.sleep(1.1)  # sentinel file must sort later by mtime
    sentinel = _sentinel_df(events)
    sentinel.coalesce(1).write.mode("append").parquet(src)
    _stamp_mtimes(src)
    return src, events


def _compare(stream_df, batch_df, keys):
    s = {tuple(r) for r in stream_df.select(*keys).collect()
         if not _is_sentinel(r)}
    b = {tuple(r) for r in batch_df.select(*keys).collect()}
    assert s == b, f"stream-only={s - b} batch-only={b - s}"


def _is_sentinel(row):
    # sentinel rows live ~30 days past the real data; their window start
    # is far beyond any real event's
    d = row.asDict()
    return d.get("cnt") == 1 and d.get("event_id", 0) == -1


@pytest.mark.parametrize(
    "name,transform,keys",
    [
        ("s1_tumbling", tumbling_counts,
         ["w_start", "w_end", "event_type", "cnt", "sum_value"]),
        ("s2_sliding", sliding_counts, ["w_start", "w_end", "event_type", "cnt"]),
        ("s2b_tumbling_distinct", tumbling_distinct_users,
         ["w_start", "w_end", "event_type", "n_users"]),
        ("s3_session", session_counts, ["w_start", "w_end", "user_id", "cnt"]),
        ("s10_ohlc", ohlc_bars_stream,
         ["w_start", "w_end", "event_type", "open_c", "high_c", "low_c",
          "close_c", "cnt"]),
    ],
)
def test_batch_equivalence(name, transform, keys, spark, replay, tmp_path):
    src, events = replay
    got = run_stream_over_files(
        spark, src, transform, events.schema, str(tmp_path / f"ck_{name}")
    )
    expected = transform(events)
    # drop sentinel-derived windows from the streamed result: anything
    # starting after max real ts
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    got = got.where(F.col("w_start") <= F.lit(max_ts))
    _compare(got, expected, keys)


def test_s4_watermark_drops_late_rows(spark, replay, tmp_path):
    """S4: an event older than the watermark at arrival time is dropped by
    the streaming agg but present in batch."""
    src, events = replay
    base = str(tmp_path / "late_src")
    events.coalesce(1).write.mode("overwrite").parquet(base)
    time.sleep(1.1)
    # tick: advances the watermark past all real windows and forces their
    # eviction BEFORE the late row arrives (otherwise the late row merges
    # into still-live state in the same batch — append mode's documented
    # best-effort lateness)
    tick = events.orderBy(F.col("ts").desc()).limit(1).select(
        F.lit(-3).cast("long").alias("event_id"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts"),
        F.col("user_id"), F.col("event_type"), F.col("value"), F.col("props"),
    )
    tick.coalesce(1).write.mode("append").parquet(base)
    time.sleep(1.1)
    # a very late event: 2 days before the max ts, arriving after everything
    late = events.orderBy(F.col("ts").desc()).limit(1).select(
        F.lit(-2).cast("long").alias("event_id"),
        (F.col("ts") - F.expr("INTERVAL 2 DAYS")).alias("ts"),
        F.col("user_id"), F.col("event_type"), F.col("value"), F.col("props"),
    )
    late.coalesce(1).write.mode("append").parquet(base)
    time.sleep(1.1)
    sentinel = _sentinel_df(events)
    sentinel.coalesce(1).write.mode("append").parquet(base)
    _stamp_mtimes(base)

    got = run_stream_over_files(
        spark, base, tumbling_counts, events.schema, str(tmp_path / "ck_s4")
    )
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    got_total = (
        got.where(F.col("w_start") <= F.lit(max_ts))
        .agg(F.sum("cnt")).collect()[0][0]
    )
    batch_total = events.count()
    # the late row was dropped by the watermark: totals equal the ORIGINAL
    # events count, not events+late
    assert got_total == batch_total, (got_total, batch_total)


def test_s5_stateful_dedup(spark, replay, tmp_path):
    """S5: duplicate event_ids across files are deduplicated with bounded
    state; result equals batch dropDuplicates."""
    src, events = replay
    base = str(tmp_path / "dup_src")
    events.coalesce(1).write.mode("overwrite").parquet(base)
    time.sleep(1.1)
    # duplicate the first 50 events (same event_id, same ts → true dups)
    dups = events.orderBy("event_id").limit(50)
    dups.coalesce(1).write.mode("append").parquet(base)
    time.sleep(1.1)
    sentinel = _sentinel_df(events)
    sentinel.coalesce(1).write.mode("append").parquet(base)
    _stamp_mtimes(base)

    got = run_stream_over_files(
        spark, base,
        lambda df: deduped_windowed_counts(df, streaming=True),
        events.schema, str(tmp_path / "ck_s5"),
    )
    expected = deduped_windowed_counts(events, streaming=False)
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    got = got.where(F.col("w_start") <= F.lit(max_ts))
    _compare(got, expected, ["w_start", "w_end", "event_type", "cnt"])


def test_s6_stateful_milestones_match_batch(spark, sf_smoke, tmp_path):
    """S6: the append-mode milestone emitter fires each (user, milestone)
    EXACTLY once even when a user's events are split across micro-batches,
    and the full emitted set equals the batch form (which is also the
    driver gate's DuckDB-oracled query)."""
    from data_table_spark.streaming.stateful import user_milestones

    events = load_table(spark, "events", sf_smoke)
    base = str(tmp_path / "ms_src")
    # three files → three micro-batches; each user's count accumulates
    # across batches, so milestones genuinely cross batch boundaries
    bounds = events.approxQuantile("event_id", [0.33, 0.66], 0.01)
    splits = [
        events.where(F.col("event_id") <= bounds[0]),
        events.where(
            (F.col("event_id") > bounds[0]) & (F.col("event_id") <= bounds[1])
        ),
        events.where(F.col("event_id") > bounds[1]),
    ]
    for part in splits:
        part.coalesce(1).write.mode("append").parquet(base)
        time.sleep(1.1)
    _stamp_mtimes(base)

    got = run_stream_over_files(
        spark, base,
        lambda df: user_milestones(df, streaming=True),
        events.schema, str(tmp_path / "ck_s6"),
    ).collect()
    emitted = [(r["user_id"], r["milestone"]) for r in got]
    assert len(emitted) == len(set(emitted)), "milestone emitted twice"
    expected = {
        (r["user_id"], r["milestone"])
        for r in user_milestones(events, streaming=False).collect()
    }
    assert set(emitted) == expected, (
        set(emitted) - expected, expected - set(emitted)
    )


def test_stateful_running_totals(spark, replay, tmp_path):
    """applyInPandasWithState: the LAST emitted totals per user (update
    semantics across micro-batches) equal the batch aggregation."""
    import uuid

    from data_table_spark.streaming.stateful import (
        user_running_totals_batch,
        user_running_totals_stream,
    )

    src, events = replay
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        user_running_totals_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_state"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.table(name).collect()
    # update mode appends one row per (user, batch); the final state is the
    # row with the max n_events per user
    final = {}
    for r in emitted:
        if r["user_id"] not in final or r["n_events"] > final[r["user_id"]][0]:
            final[r["user_id"]] = (r["n_events"], r["total_value"])
    # drop the sentinel user's extra event (event_id -1 added by the fixture)
    batch = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in user_running_totals_batch(events).collect()
    }
    sentinel_user = [r for r in emitted]  # sentinel inflates one user by 1 evt
    mismatches = {
        u: (final.get(u), batch.get(u))
        for u in batch
        if final.get(u) != batch.get(u)
    }
    # at most the sentinel's user may differ, by exactly one extra event
    assert len(mismatches) <= 1, mismatches
    for u, (got, exp) in mismatches.items():
        assert got[0] == exp[0] + 1, mismatches


def test_checkpoint_restart_exactly_once(spark, sf_smoke, tmp_path):
    """Stop/restart resilience: a windowed aggregation checkpointed to
    disk, fed half the data, stopped, then restarted with the rest +
    sentinel, must emit every window EXACTLY once to a file sink (state
    restored from the checkpoint, no reprocessing, no loss)."""
    import os as _os

    from data_table_spark.sources.registry import load_table

    events = load_table(spark, "events", sf_smoke)
    mid = events.approxQuantile("event_id", [0.5], 0.0)[0]
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    events.where(F.col("event_id") <= mid).coalesce(1).write.parquet(src)

    def run_once():
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            tumbling_counts(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()                      # half the data; most windows not final
    time.sleep(1.1)
    events.where(F.col("event_id") > mid).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    _sentinel_df(events).coalesce(1).write.mode("append").parquet(src)
    _stamp_mtimes(src)
    run_once()                      # restart from checkpoint; finalize all

    got = spark.read.parquet(out)
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    got = got.where(F.col("w_start") <= F.lit(max_ts))
    expected = tumbling_counts(events)
    keys = ["w_start", "w_end", "event_type", "cnt", "sum_value"]
    g = sorted(map(tuple, got.select(*keys).collect()))
    e = sorted(map(tuple, expected.select(*keys).collect()))
    assert g == e  # each window exactly once with full counts


def test_s7_attribution_join(spark, replay, tmp_path):
    """S7: stream-stream interval join equals its batch application.
    Inner-join matches emit as found (no window finalization needed);
    the sentinel can't pair — it sits 30 days past every real event,
    far outside the lookback interval."""
    from data_table_spark.streaming.windows import attribution_join

    src, events = replay
    got = run_stream_over_files(
        spark, src, attribution_join, events.schema, str(tmp_path / "ck_s7")
    )
    keys = ["purchase_id", "click_id", "user_id", "purchase_ts",
            "click_ts", "purchase_value"]
    g = sorted(map(tuple, got.select(*keys).collect()))
    e = sorted(map(tuple, attribution_join(events).select(*keys).collect()))
    assert g and g == e


def test_trending_counts_streams(spark, replay, tmp_path):
    """trending_counts(streaming=True) must actually run in append mode
    (the rank half is foreachBatch-only — review found the combined form
    was rejected by the streaming planner), and ranking the emitted
    closed windows must equal the batch transform on real events."""
    from data_table_spark.streaming.windows import (
        rank_trending,
        trending_counts,
        trending_topk,
    )

    src, events = replay
    got = run_stream_over_files(
        spark, src,
        lambda s: trending_counts(s, streaming=True),
        events.schema,
        checkpoint_dir=str(tmp_path / "ckpt_trend"),
    )
    # drop the sentinel's (never-finalized windows are absent; its own
    # emitted window, if any, is beyond the real range)
    ranked = rank_trending(got)
    expect = trending_topk(events)
    a = sorted(map(tuple, ranked.collect()))
    b = sorted(map(tuple, expect.collect()))
    assert a == b


def test_rocksdb_state_store_bounded_state(spark, replay, tmp_path):
    """The RocksDB state-store provider (set as a runtime conf, as a
    cluster profile would set it): the S3 session-window load
    must run on the RocksDB provider with identical results, the provider
    must actually engage (rocksdb custom metrics in stateOperators), and
    watermark eviction must keep state bounded — the terminal batch's
    numRowsTotal is the handful of sentinel-held sessions, not the full
    per-user session history."""
    import json

    src, events = replay
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    progress: list = []
    try:
        got = run_stream_over_files(
            spark, src, session_counts, events.schema,
            str(tmp_path / "ck_rocksdb"), progress_out=progress,
        )
        _compare(got, session_counts(events),
                 ["w_start", "w_end", "user_id", "cnt"])
    finally:
        if prev:
            spark.conf.set(key, prev)
        else:
            spark.conf.unset(key)
    ops = [op for p in progress for op in (p.get("stateOperators") or [])]
    assert ops, "no state operators reported"
    assert any(
        "rocksdb" in json.dumps(op.get("customMetrics") or {}).lower()
        for op in ops
    ), "RocksDB provider did not engage"
    # real sessions were evicted as the watermark passed them
    assert any((op.get("numRowsRemoved") or 0) > 0 for op in ops)
    finals = [op for p in progress[-2:] for op in (p.get("stateOperators") or [])]
    total_sessions = session_counts(events).count()
    assert finals and min(op["numRowsTotal"] for op in finals) < total_sessions / 2


def test_streaming_upsert_snapshot_matches_batch(spark, replay, tmp_path):
    """The foreachBatch MERGE sink (streaming/upsert.py): replaying the
    events files must leave a snapshot equal to the batch latest-per-user
    query over the same data — regardless of how rows were split across
    micro-batches. Also asserts the sink's versioning contract: one
    v{batch_id} dir per micro-batch plus an atomic _LATEST pointer."""
    from data_table_spark.streaming.upsert import (
        latest_per_key_merge,
        run_streaming_upsert,
    )

    src, events = replay
    state = str(tmp_path / "state")
    merge = latest_per_key_merge(["user_id"], ["ts", "event_id"])
    snap = run_streaming_upsert(
        spark, src, events.schema, state, str(tmp_path / "ck_upsert"), merge
    )
    # the replay fixture appends a sentinel file (event_id=-1, ts+30d)
    # whose rows legitimately win "latest" — compute the expectation over
    # the same union the stream saw
    from pyspark.sql import Window

    sentinel = _sentinel_df(events)
    all_events = events.unionByName(sentinel)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    expected = (
        all_events.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    got = {tuple(r) for r in snap.collect()}
    want = {tuple(r) for r in expected.select(*snap.columns).collect()}
    assert got == want
    versions = sorted(
        (d for d in os.listdir(state) if d.startswith("v")),
        key=lambda d: int(d[1:]),
    )
    assert len(versions) >= 2, versions  # real file + sentinel file
    with open(os.path.join(state, "_LATEST")) as f:
        assert f.read().strip() == versions[-1]


def test_vacuum_snapshots_retention(tmp_path):
    """vacuum_snapshots (streaming/upsert.py): keeps the newest N by
    numeric version order (not lexicographic), never removes the
    _LATEST pointer target, and rejects keep<1."""
    import pytest as _pytest

    from data_table_spark.streaming.upsert import vacuum_snapshots

    d = str(tmp_path / "state")
    os.makedirs(d)
    for i in (0, 1, 2, 3, 10):
        os.makedirs(os.path.join(d, f"v{i}"))
    with open(os.path.join(d, "_LATEST"), "w") as f:
        f.write("v10")
    assert vacuum_snapshots(d, keep=2) == ["v0", "v1", "v2"]
    assert sorted(os.listdir(d)) == ["_LATEST", "v10", "v3"]
    # an old pointer target survives even outside the keep window
    with open(os.path.join(d, "_LATEST"), "w") as f:
        f.write("v3")
    assert vacuum_snapshots(d, keep=1) == []
    with _pytest.raises(ValueError):
        vacuum_snapshots(d, keep=0)


def test_streaming_upsert_replay_guard(spark, replay, tmp_path):
    """Post-swap crash recovery: if the pointer already names
    v{batch_id} when the batch is redelivered (crash AFTER the pointer
    swap, BEFORE the checkpoint commit — simulated here by re-running
    with a fresh checkpoint against a state dir whose pointer is at
    batch 0), the sink must skip the replay instead of overwriting the
    snapshot it is reading from, and still converge to the same final
    snapshot."""
    import shutil as _shutil

    from data_table_spark.streaming.upsert import (
        latest_per_key_merge,
        run_streaming_upsert,
    )

    src, events = replay
    merge = latest_per_key_merge(["user_id"], ["ts", "event_id"])
    s1 = str(tmp_path / "s1")
    snap1 = run_streaming_upsert(
        spark, src, events.schema, s1, str(tmp_path / "ck1"), merge
    )
    want = {tuple(r) for r in snap1.collect()}
    # seed s2 as if the run crashed right after batch 0's pointer swap:
    # v0 present, pointer at v0, stream checkpoint lost
    s2 = str(tmp_path / "s2")
    os.makedirs(s2)
    _shutil.copytree(os.path.join(s1, "v0"), os.path.join(s2, "v0"))
    with open(os.path.join(s2, "_LATEST"), "w") as f:
        f.write("v0")
    snap2 = run_streaming_upsert(
        spark, src, events.schema, s2, str(tmp_path / "ck2"), merge
    )
    got = {tuple(r) for r in snap2.collect()}
    assert got == want


def test_streaming_upsert_checkpoint_state_mismatch_raises(
    spark, replay, tmp_path
):
    """A NEW query (fresh checkpoint, batch ids restart at 0) pointed at
    an ALREADY-COMPLETE state dir must fail fast instead of silently
    re-folding every batch onto the finished snapshot — for a
    non-idempotent merge_fn (additive rollup) that double-applies. The
    pointer records the highest applied batch id; an incoming id below
    it can only mean checkpoint/state mismatch."""
    from data_table_spark.streaming.upsert import (
        latest_per_key_merge,
        run_streaming_upsert,
    )

    src, events = replay
    merge = latest_per_key_merge(["user_id"], ["ts", "event_id"])
    s1 = str(tmp_path / "s1")
    run_streaming_upsert(
        spark, src, events.schema, s1, str(tmp_path / "ck1"), merge
    )
    with open(os.path.join(s1, "_LATEST")) as f:
        assert f.read().strip() != "v0"  # precondition: >1 batch applied
    with pytest.raises(Exception, match="replay mismatch"):
        run_streaming_upsert(
            spark, src, events.schema, s1, str(tmp_path / "ck_fresh"), merge
        )


def test_s8_streaming_ewma_matches_batch(spark, sf_smoke, tmp_path):
    """S8: the cross-batch EWMA recurrence — source split into three
    micro-batches BY TS RANGE (per-key arrival order non-decreasing,
    the operator's documented contract), state carrying (n, y) across
    batches. The last update-mode emission per user must equal the
    batch form's final row (udf_ewma_state, itself hash-proven vs a
    DuckDB recursive CTE)."""
    from pyspark.sql import Window

    from data_table_spark.operators.udfs import ewma_per_key
    from data_table_spark.streaming.stateful import user_ewma_stream

    events = load_table(spark, "events", sf_smoke).select(
        "user_id", "ts", "event_id", "value"
    )
    base = str(tmp_path / "ewma_src")
    bounds = [
        r[0] for r in events.selectExpr(
            "percentile(unix_timestamp(ts), array(0.33, 0.66)) p"
        ).selectExpr("explode(p)").collect()
    ]
    t = F.unix_timestamp("ts")
    splits = [
        events.where(t <= bounds[0]),
        events.where((t > bounds[0]) & (t <= bounds[1])),
        events.where(t > bounds[1]),
    ]
    for part in splits:
        part.coalesce(1).write.mode("append").parquet(base)
        time.sleep(1.1)
    _stamp_mtimes(base)

    got = run_stream_over_files(
        spark, base, user_ewma_stream, events.schema,
        str(tmp_path / "ck_s8"), output_mode="update",
    )
    # update mode re-emits per batch: keep each user's LAST emission
    # (highest n_events)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    finals = {
        r["user_id"]: (r["n_events"], r["ewma_e6"])
        for r in got.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .collect()
    }
    batch = ewma_per_key(events)
    wb = Window.partitionBy("user_id").orderBy(F.col("rn").desc())
    expected = {
        r["user_id"]: (r["rn"], r["ewma_e6"])
        for r in batch.withColumn("k", F.row_number().over(wb))
        .where(F.col("k") == 1)
        .collect()
    }
    assert finals == expected


def test_s7b_left_outer_attribution_join(spark, replay, tmp_path):
    """S7b: LEFT OUTER stream-stream interval join equals its batch
    application — including the UNMATCHED purchases, whose NULL rows
    only emit after the click-side watermark proves no match can still
    arrive. The +30d sentinel advances that watermark past every real
    purchase, flushing all withheld NULL rows; the sentinel's own row
    (event_id -1, emitted unmatched if the latest real event was a
    purchase) is excluded on both sides."""
    from data_table_spark.streaming.windows import left_attribution_join

    src, events = replay
    # the shared replay sentinel carries ONE event_type — but each
    # outer-join side computes its watermark AFTER its type filter, and
    # the query's global watermark is the MIN of both sides, so a
    # single-type sentinel stalls the other side's watermark at its
    # last real event and the final unmatched purchases never flush.
    # Build a private source with a both-types sentinel file instead.
    src2 = str(tmp_path / "src_s7b")
    spark.read.parquet(src).where(F.col("event_id") != -1).coalesce(
        1
    ).write.mode("overwrite").parquet(src2)
    time.sleep(1.1)
    base = _sentinel_df(events)
    both = base.withColumn("event_type", F.lit("click")).unionByName(
        base.withColumn("event_type", F.lit("purchase"))
    )
    both.coalesce(1).write.mode("append").parquet(src2)
    _stamp_mtimes(src2)
    got = run_stream_over_files(
        spark, src2, left_attribution_join, events.schema,
        str(tmp_path / "ck_s7b"),
    )
    keys = ["purchase_id", "click_id", "user_id", "purchase_ts",
            "click_ts", "purchase_value"]
    g = sorted(
        tuple(r) for r in got.select(*keys).collect()
        if r["purchase_id"] != -1
    )
    e = sorted(
        tuple(r)
        for r in left_attribution_join(events).select(*keys).collect()
    )
    unmatched = [t for t in g if t[1] is None]
    assert g and g == e
    # the gate is only non-degenerate if BOTH row classes appear
    assert unmatched and len(unmatched) < len(g)


def test_s9_stream_static_enrich(spark, replay, tmp_path, sf_smoke):
    """S9: stream-STATIC dimension join equals its batch application.
    The static customer dim is read once (batch) and closed over by the
    transform; the sentinel joins (its user_id is real) but its window
    never finalizes, so append mode emits exactly the real windows."""
    from data_table_spark.streaming.windows import static_enriched_counts

    src, events = replay
    customers = load_table(spark, "customer", sf_smoke)
    got = run_stream_over_files(
        spark, src,
        lambda s: static_enriched_counts(s, customers, streaming=True),
        events.schema,
        str(tmp_path / "ck_s9"),
    )
    keys = ["w_start", "w_end", "c_mktsegment", "n_events", "n_users"]
    _compare(got, static_enriched_counts(events, customers), keys)


def test_s7c_full_outer_attribution_join(spark, replay, tmp_path):
    """S7c: FULL OUTER stream-stream interval join equals its batch
    application — matched rows, NULL-click purchases, AND NULL-purchase
    clicks all emit exactly once. The sentinel is click-typed only if
    its event_type says so; filter it by its -1 id on both sides."""
    from data_table_spark.streaming.windows import full_attribution_join

    src, events = replay
    # both-types sentinel (the S7b lesson): each side's watermark is
    # computed after its type filter and the global watermark is their
    # MIN, so BOTH sides need a far-future row to flush the tail's
    # unmatched NULL emissions.
    src2 = str(tmp_path / "src_s7c")
    spark.read.parquet(src).where(F.col("event_id") != -1).coalesce(
        1
    ).write.mode("overwrite").parquet(src2)
    time.sleep(1.1)
    base = _sentinel_df(events)
    both = base.withColumn("event_type", F.lit("click")).unionByName(
        base.withColumn("event_type", F.lit("purchase"))
    )
    both.coalesce(1).write.mode("append").parquet(src2)
    _stamp_mtimes(src2)
    got = run_stream_over_files(
        spark, src2, full_attribution_join, events.schema,
        str(tmp_path / "ck_s7c"),
    )
    keys = ["purchase_id", "click_id", "user_id", "purchase_ts",
            "click_ts", "purchase_value"]

    from collections import Counter

    def clean(df):
        # multiset compare (None mixes with ints, so tuples don't sort)
        return Counter(
            tuple(r) for r in df.select(*keys).collect()
            if r["purchase_id"] != -1 and r["click_id"] != -1
        )

    g = clean(got)
    e = clean(full_attribution_join(events))
    assert g and g == e
    # both outer sides must actually occur
    assert any(r[1] is None for r in g), "no NULL-click purchases emitted"
    assert any(r[0] is None for r in g), "no NULL-purchase clicks emitted"
