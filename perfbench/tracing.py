"""Spans around the calls into each engine layer, recorded from outside.

A traced pass patches the public entry points of each layer (the
parquet reader, the two checkpoint methods, the ``DataTable`` methods,
type inference and the DDL/import plans), runs its operations, and
restores the originals. Every span gets its own Spark job group, so the
jobs a layer triggers are attributed to that layer. Spans stay in
memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time

from probes import job_stats

CORE_METHODS = (
    "value", "set_value", "sub_table", "overlay_region",
    "add_column", "compare", "to_records", "render",
)

#: per_layer metric names in the order BENCHMARK.json lists them
METRICS = (
    ["session.start_s", "session.import_s", "session.warmup_s",
     "sources.reads", "sources.read_s", "sources.read_jobs",
     "sources.read_jobs_per_read",
     "operators.build_s", "operators.build_jobs",
     "lineage.checkpoints", "lineage.checkpoint_s", "lineage.checkpoint_jobs",
     "planner.plan_s", "planner.analysis_ms", "planner.optimization_ms",
     "planner.planning_ms",
     "exec.action_s", "exec.jobs", "exec.stages", "exec.tasks",
     "exec.task_run_s", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
     "exec.spill_bytes", "exec.gc_s",
     "python.workers_peak", "python.worker_rss_peak_mb"]
    + [f"core.{m}_{k}" for m in CORE_METHODS for k in ("s", "jobs")]
    + ["inference.coerce_small_s", "inference.coerce_small_jobs",
       "inference.coerce_large_s", "inference.coerce_large_jobs",
       "inference.auto_type_s", "inference.auto_type_jobs",
       "plans.ddl_s", "plans.import_s", "plans.import_rows",
       "trace.spans", "trace.overhead_s"]
)

#: counts that must repeat exactly for a fixed seed
EXACT_COUNTS = (
    "sources.reads", "sources.read_jobs", "lineage.checkpoints",
    "lineage.checkpoint_jobs", "exec.jobs",
    *[f"core.{m}_jobs" for m in CORE_METHODS],
    "inference.coerce_small_jobs", "inference.coerce_large_jobs",
    "inference.auto_type_jobs", "plans.import_rows",
)


class NullTracer:
    """Untraced runs: the same interface, no bookkeeping."""

    enabled = False

    def op(self, op_id, name):
        return contextlib.nullcontext({})

    def span(self, name, **attrs):
        return contextlib.nullcontext({})


class Tracer(NullTracer):
    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.op_stats: list[dict] = []
        self._stack: list[dict] = []
        self._op: str | None = None
        self._patches: list[tuple[object, str, object]] = []

    # ---------- spans ----------

    @contextlib.contextmanager
    def _open(self, name: str, group: str, attrs: dict):
        rec = {
            "id": len(self.spans), "name": name, "op": self._op,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "group": group, **attrs,
        }
        self.spans.append(rec)
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self.sc.setLocalProperty("spark.job.description", f"{self._op} {name}")
        self._stack.append(rec)
        rec["start"] = time.perf_counter() - self.t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self.sc.setLocalProperty("spark.job.description", prev_desc)

    @contextlib.contextmanager
    def op(self, op_id, name):
        self._op = str(op_id)
        first = len(self.spans)
        try:
            with self._open(name, self._op, {"kind": "op"}) as rec:
                yield rec
        finally:
            self._op = None
        # outside the op's wall time: attribute jobs to spans
        ours = self.spans[first:]
        tracker = self.sc.statusTracker()
        stats = job_stats(self.spark, [s["group"] for s in ours])
        for s in ours:
            s["jobs"] = len(tracker.getJobIdsForGroup(s["group"]))
        self.op_stats.append(stats)

    def span(self, name, **attrs):
        if self._op is None:
            return contextlib.nullcontext({})
        return self._open(name, f"{self._op}/{len(self.spans)}", attrs)

    # ---------- patching ----------

    def _wrap(self, owner, attr, name, attrs_fn=None, result_fn=None):
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            attrs = attrs_fn(*a, **kw) if attrs_fn else {}
            with tracer.span(name, **attrs) as rec:
                out = orig(*a, **kw)
                if result_fn and tracer._op is not None:
                    rec.update(result_fn(out))
                return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameReader

        from data_table_spark.core import DataTable
        from data_table_spark.plans import ddl
        from data_table_spark.sources import sql

        self._wrap(DataFrameReader, "parquet", "sources.read")
        self._wrap(DataFrame, "localCheckpoint", "lineage.checkpoint")
        self._wrap(DataFrame, "checkpoint", "lineage.checkpoint")
        for m in CORE_METHODS:
            self._wrap(DataTable, m, f"core.{m}")
        self._wrap(
            DataTable, "coerce_types", "inference.coerce",
            attrs_fn=lambda t, *a, **k: {
                "size": "small" if (t._n_rows or 0) <= t.config.guessing_sample_size
                else "large"
            },
        )
        self._wrap(sql, "auto_type", "inference.auto_type")
        self._wrap(ddl, "create_table_ddl", "plans.ddl")
        self._wrap(
            ddl, "import_dataframe", "plans.import",
            result_fn=lambda n: {"rows": n},
        )

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # ---------- roll-up ----------

    def metrics(self) -> dict[str, float]:
        """Per-layer totals over every op traced so far."""
        m = dict.fromkeys(METRICS, 0.0)
        for s in self.spans:
            if s["op"] is None:
                continue
            dur = s["end"] - s["start"]
            name = s["name"]
            if name == "sources.read":
                m["sources.reads"] += 1
                m["sources.read_s"] += dur
                m["sources.read_jobs"] += s["jobs"]
            elif name == "lineage.checkpoint":
                m["lineage.checkpoints"] += 1
                m["lineage.checkpoint_s"] += dur
                m["lineage.checkpoint_jobs"] += s["jobs"]
            elif name == "operators.build":
                inner = sum(
                    c["end"] - c["start"] for c in self.spans
                    if c["parent"] == s["id"]
                    and c["name"].startswith(("sources.", "lineage."))
                )
                m["operators.build_s"] += dur - inner
                m["operators.build_jobs"] += s["jobs"]
            elif name == "planner.plan":
                m["planner.plan_s"] += dur
                for k in ("analysis", "optimization", "planning"):
                    m[f"planner.{k}_ms"] += s.get(k, 0)
            elif name.startswith("core."):
                m[f"{name}_s"] += dur
                m[f"{name}_jobs"] += s["jobs"]
            elif name == "inference.coerce":
                m[f"inference.coerce_{s['size']}_s"] += dur
                m[f"inference.coerce_{s['size']}_jobs"] += s["jobs"]
            elif name == "inference.auto_type":
                m["inference.auto_type_s"] += dur
                m["inference.auto_type_jobs"] += s["jobs"]
            elif name == "plans.ddl":
                m["plans.ddl_s"] += dur
            elif name == "plans.import":
                m["plans.import_s"] += dur
                m["plans.import_rows"] += s.get("rows", 0)
        if m["sources.reads"]:
            m["sources.read_jobs_per_read"] = m["sources.read_jobs"] / m["sources.reads"]
        for st in self.op_stats:
            m["exec.action_s"] += st["job_s"]
            for k in ("jobs", "stages", "tasks", "task_run_s", "shuffle_read_bytes",
                      "shuffle_write_bytes", "spill_bytes", "gc_s"):
                m[f"exec.{k}"] += st[k]
        m["trace.spans"] = len(self.spans)
        return m

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
