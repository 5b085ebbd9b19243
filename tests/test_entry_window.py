"""Driver-contract gate order (no Spark needed — pure registry checks).

The round driver grades the FIRST 50 queries() entries against
oracle_sql(). ``__spark_entry__`` computes that order from the committed
CORRECTNESS_r*.json files; these tests pin its properties, recomputing
the freshest green round per gate independently of the entry module.
"""

from __future__ import annotations

import ast
import glob
import importlib
import json
import os
import re
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry  # noqa: E402

#: gates whose output is tolerance-checked or hash-dependent BY NATURE —
#: they can never hash-match an oracle and must stay out of the window.
#: Each maps to the test (``file::function`` under tests/) that pins it.
ROWS_ONLY_BY_NATURE = {
    "q17_approx_count_distinct": "test_relational.py::test_q17_tolerance",
    "dedup_minhash_lsh_pairs": "test_extensions.py::test_minhash_recall",
    "dedup_simhash": "test_extensions.py::test_simhash_identical_text_same_hash",
    "dedup_clusters": "test_extensions.py::test_dedup_clusters_on_fixture",
    "sim_lsh_topk": "test_extensions.py::test_lsh_topk_is_subset_semantics",
    "sim_knn_join": "test_plans.py::test_lsh_knn_join_invariants",
    "sim_ivf_kmeans_topk":
        "test_extensions.py::test_ivf_kmeans_exact_within_probed_clusters",
    # GK quantile sketch has no DuckDB replay. Gap: the golden test
    # checks the helper scale.ntile_approx (≥99% agreement with exact
    # ntile), not the registered gate itself.
    "ntile_approx_buckets": "test_plans.py::test_ntile_approx_golden_and_plan",
    # iterative per-round global argmax is not single-statement SQL; the
    # golden pins the FULL merge table against a pure-Python reference
    # BPE, and pipe_bpe_pair_counts is the oracle-backed sibling for the
    # round-0 statistics
    "pipe_bpe_merges": "test_pipeline.py::test_bpe_train_matches_reference",
    # zlib deflate size has no SQL replay; the golden compares the FULL
    # output against Python zlib directly
    "text_compression_ratio": "test_extensions.py::test_compression_ratio_golden",
    # LCS is an O(n*m) dynamic program, not a single-statement SQL
    # expression; the golden pins every value, and the two oracle-backed
    # siblings (token F1, BLEU-2) share its pair geometry
    "eval_rouge_l_pairs": "test_round13_ops.py::test_rouge_l_python_golden",
}


def _window():
    return list(entry.queries())[:50]


def _freshest_green():
    latest = {}
    for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        n = int(re.search(r"_r(\d+)\.json$", p).group(1))
        with open(p) as f:
            for k, v in json.load(f).items():
                if v.get("hash_match"):
                    latest[k] = max(latest.get(k, 0), n)
    return latest


def test_registry_sizes():
    assert len(entry.queries()) == 391
    assert len(entry.oracle_sql()) == 380


def test_window_is_fully_oracle_backed():
    oracles = entry.oracle_sql()
    unhashable = [k for k in _window() if k not in oracles]
    assert not unhashable, f"window slots the driver cannot grade: {unhashable}"
    in_window = ROWS_ONLY_BY_NATURE.keys() & set(_window())
    assert not in_window, f"rows-only gates burning window slots: {in_window}"


def test_every_never_green_oracle_gate_is_in_window():
    """A gate with an oracle but no green row in any committed
    CORRECTNESS file is exactly what the window exists to prove."""
    oracles = entry.oracle_sql()
    never_green = set(oracles) - set(_freshest_green())
    out = never_green - set(_window())
    assert not out, f"never-green oracle-backed gates outside the window: {out}"


def test_green_gates_stalest_first():
    """Never-green oracle gates precede every green one, green gates come
    in non-decreasing freshest-green round, and oracle_sql() follows the
    same order."""
    oracles = entry.oracle_sql()
    green = _freshest_green()
    order = [k for k in entry.queries() if k in oracles]
    rounds = [green.get(k, 0) for k in order]
    assert rounds == sorted(rounds)
    assert list(oracles) == order


def test_rows_only_gates_come_last():
    qs = list(entry.queries())
    tail = qs[len(qs) - len(ROWS_ONLY_BY_NATURE):]
    assert set(tail) == set(ROWS_ONLY_BY_NATURE), tail


def test_entry_has_no_pinned_queues_or_import_guards():
    with open(os.path.join(REPO, "__spark_entry__.py")) as f:
        src = f.read()
    assert not re.search(r"\b_R\d*_|_PRIORITY|_QUEUE", src)
    assert "try:" not in src


class _BrokenModule:
    """Meta-path finder that makes one module's import fail."""

    def __init__(self, name):
        self.name = name

    def find_spec(self, name, path=None, target=None):
        if name == self.name:
            raise SyntaxError(f"stand-in syntax error in {name}")
        return None


def test_broken_operator_module_fails_entry_import(monkeypatch):
    """A broken family must fail loudly, not drop its gates silently."""
    broken = "data_table_spark.operators.dedup"
    for mod in ("__spark_entry__", broken):
        monkeypatch.delitem(sys.modules, mod)
    monkeypatch.delattr(sys.modules["data_table_spark.operators"], "dedup")
    monkeypatch.setattr(sys, "meta_path", [_BrokenModule(broken), *sys.meta_path])
    with pytest.raises(SyntaxError):
        importlib.import_module("__spark_entry__")


def test_rows_only_set_matches_registry():
    """Every registered query lacking an oracle must be in the documented
    rows-only list — a new gate without an oracle is either an oversight
    or needs adding to ROWS_ONLY_BY_NATURE with a written justification."""
    oracles = entry.oracle_sql()
    no_oracle = {k for k in entry.queries() if k not in oracles}
    assert no_oracle == set(ROWS_ONLY_BY_NATURE), (
        no_oracle ^ set(ROWS_ONLY_BY_NATURE)
    )


def test_rows_only_gates_name_a_test_function():
    """Each rows-only gate names the test that covers it in place of an
    oracle; a node id that stops resolving leaves the gate untested."""
    unresolved = []
    for gate, node in ROWS_ONLY_BY_NATURE.items():
        fname, func = node.split("::")
        with open(os.path.join(REPO, "tests", fname)) as f:
            tree = ast.parse(f.read())
        defs = {n.name for n in tree.body if isinstance(n, ast.FunctionDef)}
        if not func.startswith("test_") or func not in defs:
            unresolved.append((gate, node))
    assert not unresolved, unresolved
