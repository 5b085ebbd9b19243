"""``scripts/oracle_check.py`` runs in-process: a green gate exits 0, an
unregistered name and a wrong oracle both exit non-zero."""

from __future__ import annotations

import importlib.util
import os

import pytest

SCRIPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts", "oracle_check.py",
)
GATE = "q01_scan_project"
#: SQL confs the script's raw session sets on the shared test session
RAW_CONFS = ("spark.sql.shuffle.partitions", "spark.sql.legacy.parquet.nanosAsLong")


@pytest.fixture
def oracle_check(spark):
    spec = importlib.util.spec_from_file_location("oracle_check", SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    saved = {k: spark.conf.get(k, None) for k in RAW_CONFS}
    yield mod
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_oracle_check_exit_codes(oracle_check, sf_smoke, monkeypatch):
    assert oracle_check.main([GATE, "--sf", sf_smoke]) == 0
    assert oracle_check.main(["no_such_gate", "--sf", sf_smoke]) != 0

    wrong = dict(oracle_check.entry_mod.oracle_sql())
    wrong[GATE] += " LIMIT 1"  # drops rows the gate returns
    monkeypatch.setattr(oracle_check.entry_mod, "oracle_sql", lambda: wrong)
    assert oracle_check.main([GATE, "--sf", sf_smoke]) != 0
