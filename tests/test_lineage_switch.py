"""``SPARK_GRAFT_CHECKPOINT_DIR`` must reach every lineage cut: all
materialization goes through ``lineage.truncate_lineage``, so setting the
variable turns every executor-local checkpoint into a reliable one."""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry  # noqa: E402
from data_table_spark.lineage import CHECKPOINT_DIR_ENV  # noqa: E402
from oracle_util import compare_to_oracle, duck_connection  # noqa: E402

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data_table_spark",
)


def test_no_direct_checkpoint_outside_lineage():
    pat = re.compile(r"\.(localCheckpoint|checkpoint)\(")
    hits = []
    for root, _, files in os.walk(PKG):
        for fn in files:
            path = os.path.join(root, fn)
            if not fn.endswith(".py") or path == os.path.join(PKG, "lineage.py"):
                continue
            with open(path) as f:
                for no, line in enumerate(f, 1):
                    if pat.search(line):
                        hits.append(f"{os.path.relpath(path, PKG)}:{no}")
    assert not hits, f"checkpoint calls bypassing truncate_lineage: {hits}"


def test_checkpoint_dir_reaches_graph_and_bpe_sites(
    spark, sf_smoke, tmp_path, monkeypatch
):
    from data_table_spark.operators.bpe import bpe_train
    from data_table_spark.sources.registry import load_table

    frame_cls = type(spark.range(1))  # the concrete (classic) DataFrame
    calls = {"checkpoint": 0, "localCheckpoint": 0}
    for meth in calls:
        orig = getattr(frame_cls, meth)

        def counted(self, *a, _orig=orig, _meth=meth, **kw):
            calls[_meth] += 1
            return _orig(self, *a, **kw)

        monkeypatch.setattr(frame_cls, meth, counted)
    monkeypatch.setenv(CHECKPOINT_DIR_ENV, str(tmp_path))

    df = entry.queries()["q106_triangle_count"](spark, sf_smoke)
    ok, msg = compare_to_oracle(
        df, duck_connection(sf_smoke), entry.oracle_sql()["q106_triangle_count"]
    )
    assert ok, msg
    merges = bpe_train(load_table(spark, "documents", sf_smoke), n_merges=2)
    assert merges

    assert calls["checkpoint"] > 0
    assert calls["localCheckpoint"] == 0, calls
