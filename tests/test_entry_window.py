"""Driver-contract gate order (no Spark needed — pure registry checks).

The round driver grades the FIRST 50 queries() entries against
oracle_sql(). ``__spark_entry__`` computes that order from the committed
CORRECTNESS_r*.json files; these tests pin its properties, recomputing
the freshest green round per gate independently of the entry module.
"""

from __future__ import annotations

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
#: they can never hash-match an oracle and must stay out of the window
#: (each has a deterministic-oracle sibling or recall/golden pytest).
ROWS_ONLY_BY_NATURE = {
    "q17_approx_count_distinct",
    "dedup_minhash_lsh_pairs",
    "dedup_simhash",
    "dedup_clusters",
    "sim_lsh_topk",
    "sim_knn_join",
    "sim_ivf_kmeans_topk",
    "ntile_approx_buckets",  # GK quantile sketch has no DuckDB replay;
                             # golden test pins ≥99% agreement w/ exact
    "pipe_bpe_merges",  # iterative per-round global argmax is not
                        # single-statement SQL; the pytest golden pins
                        # the FULL merge table against a pure-Python
                        # reference BPE (test_bpe_train_matches_reference),
                        # and pipe_bpe_pair_counts is the oracle-backed
                        # sibling for the round-0 statistics
    "text_compression_ratio",  # zlib deflate size has no SQL replay;
                                # the golden test compares the FULL
                                # output against Python zlib directly
                                # (same contract as pipe_bpe_merges)
    # media_decode_features left this set in round 5: the fake-decode
    # features are byte arithmetic an ASCII fixture lets DuckDB replay
    # exactly (ord(char) == byte), so it now carries a hash oracle.
    "eval_rouge_l_pairs",  # LCS is an O(n*m) dynamic program, not a
                           # single-statement SQL expression; the full
                           # pure-Python golden pins every value
                           # (tests/test_round13_ops.py), and the two
                           # oracle-backed siblings (token F1, BLEU-2)
                           # share its pair geometry
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
    in_window = ROWS_ONLY_BY_NATURE & set(_window())
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
    assert set(tail) == ROWS_ONLY_BY_NATURE, tail


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
    assert no_oracle == ROWS_ONLY_BY_NATURE, (
        no_oracle ^ ROWS_ONLY_BY_NATURE
    )
