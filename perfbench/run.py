"""Benchmark of the data_table_spark engine, end to end and per layer.

    python3 perfbench/run.py --workload gates --seed 1 --seconds 10 --trace 0

One run makes its inputs from ``--seed``, starts one Spark session
(``local[--cores]``) in this process, warms up, and then drives the
workload's operations as one closed-loop client: whole passes, as many
as fit ``--seconds`` at the workload's nominal pass length, so every run
of a workload does the same work. ``ops_per_s`` takes each kind of op
at its median time over the run and ``op_p50_s`` is the median op, so
one slow pass or op moves neither. Every output is checked. The last
stdout line is the result, ``{"correct", "attempted", "failed",
"metrics"}``; the line before it is the full record (ops, fail_ratio,
the facade's ingest/read/write medians, memory by process and the host
fingerprint before and after).

``setup_s`` runs from process start to ready-to-time (interpreter and
imports, session start, engine import, warm-up), less the bounded
quiet-host wait and the input generation.

With ``--trace 1`` the run adds one traced pass, in which every call
into an engine layer becomes a span, and prints that pass's per-layer
metrics instead; ``trace.overhead_s`` compares it with the untraced
passes before and after it. Spans are written to ``.perfbench/``.

All state a run creates (inputs, Spark local dirs, warehouse,
checkpoints, temp files) lives in a fresh ``.perfbench/run-<pid>``
directory that is removed at the end.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

TRACED_PASS = 10_000
#: driver JVM heap, fixed (-Xms = -Xmx) so that peak_rss_mb does not
#: depend on when the collector chose to grow the heap
HEAP = "2g"
END_TO_END = {
    "setup_s": "s", "ops_per_s": "1/s", "op_p50_s": "s", "peak_rss_mb": "MB",
}


def _unit(name: str) -> str:
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_bytes", "B"), ("_mb", "MB")):
        if name.endswith(suffix):
            return unit
    return "1" if name.endswith("_per_read") else "count"


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["gates", "facade-session"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # two task threads leave the rest of a small host to the driver, its
    # JIT and collector threads and this client, so that one slow CPU
    # does not hold up every job
    p.add_argument("--cores", type=int, default=2,
                   help="Spark runs local[min(cores, nproc)]")
    p.add_argument("--perturb", action="store_true",
                   help="self-test: corrupt one expected value; the run "
                   "must then report correct=false")
    return p.parse_args(argv)


def _isolate(run_dir: str, cores: int) -> dict[str, str]:
    """Environment and Spark conf that keep every file this run writes
    under ``run_dir``."""
    for sub in ("tmp", "local", "warehouse", "checkpoint"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ.update({
        "TZ": "UTC",
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    # bounded quiet-host wait: a back-to-back series never waits long
    os.environ.setdefault("SPARK_GRAFT_BENCH_MAX_LOAD", str(os.cpu_count() or cores))
    os.environ.setdefault("SPARK_GRAFT_BENCH_WAIT_S", "5")
    time.tzset()
    return {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.checkpoint.dir": os.path.join(run_dir, "checkpoint"),
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={run_dir}/tmp -Dderby.system.home={run_dir} "
            f"-XX:-UsePerfData -Xms{HEAP}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }


def _stop(spark) -> None:
    """Stop Spark and wait for the driver JVM (and with it the pyspark
    daemon and workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    from probes import descendants

    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def _ops_per_s(records) -> float:
    """Ops per busy second of a pass in which every op takes the median
    time of its kind over the run: each op's own mix, without the odd
    op that the JIT, the collector or a neighbour on the host slowed."""
    times: dict[str, list[float]] = {}
    for r in records:
        times.setdefault(r["name"], []).append(r["t"])
    median = {name: statistics.median(ts) for name, ts in times.items()}
    return len(records) / sum(median[r["name"]] for r in records)


def _p50(records, kind=None):
    ts = [r["t"] for r in records if kind is None or r["kind"] == kind]
    return statistics.median(ts) if ts else None


def main(argv=None) -> int:
    args = _parse(argv)
    if not (os.path.isdir(os.path.join(ROOT, "data_table_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print("perfbench: no data_table_spark engine next to perfbench/",
              file=sys.stderr)
        return 2
    cores = max(1, min(args.cores, os.cpu_count() or 1))
    out_dir = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(out_dir, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    conf = _isolate(run_dir, cores)
    sys.path[:0] = [HERE, ROOT]
    try:
        return _run(args, cores, conf, run_dir, out_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, cores, conf, run_dir, out_dir) -> int:
    import bench  # host fingerprint and quiet-host wait
    from probes import TreeSampler
    from tracing import METRICS, NullTracer, Tracer

    if args.workload == "facade-session":
        from facade import FacadeWorkload as Workload
    else:
        from gates import GateWorkload as Workload

    t = time.perf_counter()
    bench._wait_for_quiet_host()
    env_before = bench._env_fingerprint()
    work = Workload(args.workload, run_dir, args.seed, args.perturb)
    work.prepare()
    # the host wait and input generation are the benchmark's, not set-up
    not_setup_s = time.perf_counter() - t
    sampler = TreeSampler().start()
    spark = None
    try:
        # ---- set-up: session start, engine import, warm-up ----
        from data_table_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", extra_conf=conf)
        t1 = time.perf_counter()
        work.load(spark)
        t2 = time.perf_counter()
        work.warmup(spark)
        t3 = time.perf_counter()
        session = {"session.start_s": t1 - t0, "session.import_s": t2 - t1,
                   "session.warmup_s": t3 - t2}

        # ---- timed phase: a fixed number of whole passes, closed loop ----
        records, pass_busy = [], []
        for p in range(max(1, round(args.seconds / work.pass_s))):
            recs = work.run_pass(spark, p, NullTracer())
            pass_busy.append(sum(r["t"] for r in recs))
            records += recs
        traced, layer = [], {}
        if args.trace:
            tracer = Tracer(spark)
            tracer.install()
            try:
                traced = work.run_pass(spark, TRACED_PASS, tracer)
            finally:
                tracer.uninstall()
            # overhead: the traced pass against the untraced passes on
            # either side of it, which cancels the JIT still warming
            after = work.run_pass(spark, TRACED_PASS + 1, NullTracer())
            layer = tracer.metrics()
            layer.update(session)
            layer["trace.overhead_s"] = sum(r["t"] for r in traced) - (
                pass_busy[-1] + sum(r["t"] for r in after)
            ) / 2
            layer["python.workers_peak"] = sampler.workers_peak
            layer["python.worker_rss_peak_mb"] = sampler.worker_rss_peak_mb
            tracer.dump(os.path.join(
                out_dir, f"spans-{args.workload}-seed{args.seed}.json"))
            traced += after
        work.check(records + traced)
    finally:
        sampler.stop()
        if spark is not None:
            _stop(spark)
    env_after = bench._env_fingerprint()

    checked = records + traced
    failed = sum(1 for r in checked if not r.get("ok"))
    end_to_end = {
        "setup_s": t3 - T_PROCESS - not_setup_s,
        "ops_per_s": _ops_per_s(records),
        "op_p50_s": _p50(records),
        "peak_rss_mb": sampler.peak_rss_mb,
    }
    report = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        **end_to_end, "ops": len(records), "passes": len(pass_busy),
        "busy_s": sum(pass_busy),
        "fail_ratio": failed / len(checked), "wait_and_inputs_s": not_setup_s,
        "peak_rss_mb_by_command": sampler.peak_by_command(),
        **{f"{k}_p50_s": _p50(records, k) for k in ("ingest", "read", "write")
           if any(r["kind"] == k for r in records)},
        "errors": sorted({f"{r['name']}: {r.get('error', 'wrong output')}"
                          for r in checked if not r.get("ok")})[:10],
        "env_before": env_before, "env_after": env_after,
    }
    if args.trace:
        metrics = {k: {"value": layer[k], "unit": _unit(k)} for k in METRICS}
        report["layers"] = layer
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in end_to_end.items()}
    print(json.dumps(report))
    print(json.dumps({"correct": failed == 0, "attempted": len(checked),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
