"""Measurements taken from outside the engine.

- ``TreeSampler``: peak resident memory of this process and all of its
  descendants (the Spark driver JVM and the pyspark daemon/workers),
  sampled from ``/proc`` on a background thread.
- ``job_stats``: per-job-group Spark counters read through the status
  tracker and status store, which work with the UI disabled.
"""

from __future__ import annotations

import os
import threading

from py4j.protocol import Py4JJavaError


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, comm) for every live process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm = stat[stat.find("(") + 1 : stat.rfind(")")]
        rest = stat[stat.rfind(")") + 2 :].split()
        out[int(name)] = (int(rest[1]), comm)
    return out


def descendants(root: int) -> dict[int, str]:
    """pid -> comm for every process below ``root``."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out[pid] = table[pid][1]
        todo.extend(children.get(pid, ()))
    return out


def _rss_mb(pid: int, field: str = "VmRSS") -> float:
    """Resident memory (``VmRSS``) or its high-water mark (``VmHWM``)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1]) / 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0.0


class TreeSampler:
    """Samples the process tree every ``interval`` seconds until stopped.

    ``peak_rss_mb`` sums each process's own high-water mark (``VmHWM``,
    kept by the kernel), so a short peak between samples still counts."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.hwm: dict[int, float] = {}
        self.comm: dict[int, str] = {}
        self.workers_peak = 0
        self.worker_rss_peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @property
    def peak_rss_mb(self) -> float:
        return sum(self.hwm.values())

    def peak_by_command(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for pid, mb in self.hwm.items():
            comm = self.comm.get(pid, "benchmark")
            out[comm] = out.get(comm, 0.0) + mb
        return out

    def sample(self) -> None:
        me = os.getpid()
        tree = descendants(me)
        self.comm.update(tree)
        for pid in [me, *tree]:
            self.hwm[pid] = max(self.hwm.get(pid, 0.0), _rss_mb(pid, "VmHWM"))
        workers = [p for p, comm in tree.items() if comm.startswith("python")]
        self.workers_peak = max(self.workers_peak, len(workers))
        self.worker_rss_peak_mb = max(
            self.worker_rss_peak_mb, sum(_rss_mb(p) for p in workers)
        )

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "TreeSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def job_stats(spark, groups: list[str]) -> dict[str, float]:
    """Totals over every job run under ``groups``: jobs, stages, tasks,
    job wall time, executor run time, shuffle bytes, spill and GC.

    Waits for the listener bus first, so jobs that just finished are
    visible to the status store."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = spark.sparkContext.statusTracker()
    store = jsc.statusStore()
    out = dict.fromkeys(
        ("jobs", "stages", "tasks", "job_s", "task_run_s", "shuffle_read_bytes",
         "shuffle_write_bytes", "spill_bytes", "gc_s"), 0.0,
    )
    for g in groups:
        for jid in tracker.getJobIdsForGroup(g):
            out["jobs"] += 1
            job = store.job(jid)
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                out["job_s"] += (
                    job.completionTime().get().getTime()
                    - job.submissionTime().get().getTime()
                ) / 1000
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                try:
                    st = store.lastStageAttempt(stage_ids.apply(i))
                except Py4JJavaError:  # stage never ran (skipped)
                    continue
                if st.numCompleteTasks() == 0:
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["task_run_s"] += st.executorRunTime() / 1000
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["gc_s"] += st.jvmGcTime() / 1000
    return out
