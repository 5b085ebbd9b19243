"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q``.

Each test runs ``run.py`` in a subprocess; a run starts its own Spark
session and takes about a minute.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from gates import PLAN  # noqa: E402
from tracing import EXACT_COUNTS  # noqa: E402

#: exact counts of one traced pass with --seed 7; they must repeat on
#: every run of the same code
PINNED = {
    "gates": {
        "sources.reads": 17, "sources.read_jobs": 17, "lineage.checkpoints": 3,
        "lineage.checkpoint_jobs": 9, "exec.jobs": 55,
        "core.value_jobs": 0, "core.set_value_jobs": 0, "core.sub_table_jobs": 0,
        "core.overlay_region_jobs": 0, "core.add_column_jobs": 0,
        "core.compare_jobs": 0, "core.to_records_jobs": 0, "core.render_jobs": 0,
        "inference.coerce_small_jobs": 0, "inference.coerce_large_jobs": 0,
        "inference.auto_type_jobs": 0, "plans.import_rows": 0,
    },
    "facade-session": {
        "sources.reads": 0, "sources.read_jobs": 0, "lineage.checkpoints": 0,
        "lineage.checkpoint_jobs": 0, "exec.jobs": 60,
        "core.value_jobs": 20, "core.set_value_jobs": 0, "core.sub_table_jobs": 0,
        "core.overlay_region_jobs": 0, "core.add_column_jobs": 0,
        "core.compare_jobs": 8, "core.to_records_jobs": 6, "core.render_jobs": 6,
        "inference.coerce_small_jobs": 2, "inference.coerce_large_jobs": 4,
        "inference.auto_type_jobs": 4, "plans.import_rows": 1600,
    },
}


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(PINNED))
def test_traced_counts_repeat(workload):
    res = _result(_run("--workload", workload, "--seed", "7", "--seconds", "1",
                       "--trace", "1"))
    assert res["correct"], res
    counts = {k: res["metrics"][k]["value"] for k in EXACT_COUNTS}
    assert counts == PINNED[workload]
    if workload == "gates":
        # every gate reads parquet, and every read infers its schema in a job
        assert counts["sources.read_jobs"] >= len(PLAN)
        assert counts["lineage.checkpoints"] > 0
    else:
        assert counts["lineage.checkpoints"] == 0


@pytest.mark.parametrize("workload", sorted(PINNED))
def test_perturbed_expectation_is_caught(workload):
    res = _result(_run("--workload", workload, "--seed", "7", "--seconds", "1",
                       "--perturb"))
    assert res["correct"] is False
    assert res["failed"] >= 1


def test_refuses_without_engine():
    bare = os.path.join(ROOT, ".perfbench", f"bare-{os.getpid()}")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        p = _run("--workload", "gates", "--seed", "1", cwd=bare)
    finally:
        shutil.rmtree(bare)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
