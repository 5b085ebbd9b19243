"""Custom stateful streaming operators via applyInPandasWithState
(SURVEY §2.2 'custom stateful operators' — the escape hatch when built-in
windows/dedup can't express the semantics).

Two operators:

- per-user running totals (update mode): every micro-batch updates each
  active user's (n_events, total_value) state and emits the new totals.
- per-user milestone emitter (append mode): fires one row each time a
  user's cumulative event count crosses a multiple of ``stride`` —
  exactly once, regardless of how events are split across micro-batches.
  Milestones are a function of the running COUNT (order-insensitive), so
  the streaming run over an arbitrarily-chunked file replay is provably
  equal to the batch form — count per user, explode the milestone
  sequence — which in turn has a plain DuckDB oracle. That makes
  ``stream_user_milestones`` a hash-checkable gate for an operator whose
  streaming implementation is pure Python state logic.

State lives in the state store keyed by user_id; memory is bounded by
#active users (one long, or long+double, per user — the smallest
possible state shape), not stream length. At 100 TB with an unbounded
key space, add a state TTL (GroupStateTimeout) so cold keys expire.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..sources.registry import load_table

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ]
)


def _update(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
    )


def user_running_totals_stream(events: DataFrame) -> DataFrame:
    """Streaming side: arbitrary stateful update per user. Emits the
    running totals each batch the user is active (update semantics)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def user_running_totals_batch(events: DataFrame) -> DataFrame:
    """Batch oracle: the final state equals a plain aggregation."""
    return events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


# --------------------------------------------------------------------------
# S6: milestone emitter (append-mode, exactly-once emission)
# --------------------------------------------------------------------------

#: emit a milestone row at every multiple of this many events per user.
MILESTONE_STRIDE = 5

_MILESTONE_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("milestone", T.LongType()),
    ]
)
_MILESTONE_STATE = T.StructType([T.StructField("cnt", T.LongType())])


def _milestone_batch(events: DataFrame, stride: int) -> DataFrame:
    """Batch form (the correctness oracle): total count per user, then the
    crossed milestones stride, 2*stride, ..., <= n. The when() guard keeps
    Spark's sequence() from throwing on n < stride (DuckDB's
    generate_series returns empty there; Spark errors on inverted
    bounds)."""
    n = F.col("n")
    seq = F.when(
        n >= stride,
        F.sequence(F.lit(stride).cast("long"), n, F.lit(stride).cast("long")),
    ).otherwise(F.array().cast("array<bigint>"))
    return (
        events.groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .select("user_id", F.explode(seq).alias("milestone"))
    )


def user_milestones(
    events: DataFrame, streaming: bool = False, stride: int = MILESTONE_STRIDE
) -> DataFrame:
    """Emit (user_id, milestone) once each time a user's cumulative event
    count reaches a multiple of ``stride``.

    streaming=True runs applyInPandasWithState with a one-long running
    count per user: each micro-batch emits exactly the milestones crossed
    by that batch's events (state carries the cumulative count across
    batches, so a milestone can never fire twice). streaming=False is the
    equivalent batch aggregation (used as the oracle and the driver gate).
    """
    if not streaming:
        return _milestone_batch(events, stride)

    def emit_milestones(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        cnt = state.get[0] if state.exists else 0
        start = cnt
        for pdf in pdfs:
            cnt += len(pdf)
        state.update((cnt,))
        first = (start // stride + 1) * stride
        crossed = list(range(first, cnt + 1, stride))
        yield pd.DataFrame(
            {
                "user_id": pd.Series([user_id] * len(crossed), dtype="int64"),
                "milestone": pd.Series(crossed, dtype="int64"),
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        emit_milestones,
        outputStructType=_MILESTONE_OUT,
        stateStructType=_MILESTONE_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_user_milestones(spark, sf_dir):
    """Gate query (batch form of S6): milestone rows for the events table.
    The streaming form is asserted equal in
    tests/test_streaming.py::test_s6_stateful_milestones_match_batch."""
    return user_milestones(load_table(spark, "events", sf_dir), streaming=False)


STATEFUL_QUERIES = {"stream_user_milestones": stream_user_milestones}

STATEFUL_ORACLE = {
    "stream_user_milestones":
        f"SELECT user_id, UNNEST(generate_series({MILESTONE_STRIDE}, n, "
        f"{MILESTONE_STRIDE})) AS milestone "
        "FROM (SELECT user_id, COUNT(*) n FROM events GROUP BY user_id) t",
}


# --------------------------------------------------------------------------
# S7: streaming EWMA (sequential per-key recurrence carried across batches)
# --------------------------------------------------------------------------

_EWMA_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("ewma_e6", T.LongType()),
    ]
)
#: (count so far, current ewma) — n==0 means "no state yet" so the
#: double slot never needs a NULL
_EWMA_STATE = T.StructType(
    [T.StructField("n", T.LongType()), T.StructField("y", T.DoubleType())]
)

EWMA_ALPHA = 0.2


def user_ewma_stream(events: DataFrame, alpha: float = EWMA_ALPHA) -> DataFrame:
    """Streaming form of operators/udfs.ewma_per_key: the recurrence
    y = α·x + (1−α)·y' carried ACROSS micro-batches in one (n, y)
    state slot per user — O(1) state however long the stream runs.
    Each batch's rows fold in (ts, event_id) order; correctness across
    batches assumes per-key arrival order is non-decreasing in ts (the
    file-replay harness splits its source by ts ranges to honor this —
    an out-of-order stream would need a watermark-bounded reorder
    buffer in the state, the documented upgrade path). Emits the
    running (n, ewma_e6) per active user each batch (update mode);
    the FINAL emission per user equals the batch form's last row —
    asserted in tests/test_streaming.py."""

    def fold(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, y = state.get if state.exists else (0, 0.0)
        # the iterator yields ARROW CHUNKS, not whole groups — a hot
        # key's batch spans several chunks in arbitrary order, so the
        # sort must happen over the concatenation, never per chunk
        batch = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        for x in batch["value"].astype("float64"):
            y = float(x) if n == 0 else alpha * float(x) + (1.0 - alpha) * y
            n += 1
        state.update((n, float(y)))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "ewma_e6": [int(y * 1e6 // 1)],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=_EWMA_OUT,
        stateStructType=_EWMA_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
