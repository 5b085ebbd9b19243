"""Every gate in ``__spark_entry__.oracle_sql()`` is compared to its
DuckDB oracle by exactly one family test, against the same SQL.

The comparisons run in the family files; this test reads the dict the
driver grades, so a gate that no family test reaches (a new family, or
one dropped from a union) fails here instead of going unchecked.
"""

from __future__ import annotations

import __spark_entry__ as entry
import test_asof
import test_extensions
import test_pipeline
import test_relational
import test_sources_sinks
import test_udfs


def _params(test) -> list[str]:
    (mark,) = [m for m in test.pytestmark if m.name == "parametrize"]
    return list(mark.args[1])


#: family test id -> (gates it compares, the oracle SQL it reads them from)
FAMILY_TESTS = {
    "test_relational.py::test_oracle_match": (
        _params(test_relational.test_oracle_match),
        test_relational.RELATIONAL_ORACLE,
    ),
    "test_extensions.py::test_extension_oracle": (
        _params(test_extensions.test_extension_oracle),
        test_extensions.ALL_ORACLE,
    ),
    "test_pipeline.py::test_pipeline_oracle": (
        _params(test_pipeline.test_pipeline_oracle),
        test_pipeline.PIPELINE_ORACLE,
    ),
    "test_udfs.py::test_udf_oracle": (
        _params(test_udfs.test_udf_oracle),
        test_udfs.UDF_ORACLE,
    ),
    "test_sources_sinks.py::test_new_oracles": (
        _params(test_sources_sinks.test_new_oracles),
        {**test_sources_sinks.REFERENCE_ORACLE, **test_sources_sinks.MULTIMODAL_ORACLE},
    ),
    "test_asof.py::test_asof_gate_matches_duckdb": (
        list(test_asof.ASOF_ORACLE),
        test_asof.ASOF_ORACLE,
    ),
}


def test_every_oracle_gate_is_compared_once():
    seen: dict[str, str] = {}
    twice = []
    for test_id, (gates, _) in FAMILY_TESTS.items():
        for g in gates:
            if g in seen:
                twice.append((g, seen[g], test_id))
            seen[g] = test_id
    assert not twice, f"gates compared by two family tests: {twice}"
    graded = set(entry.oracle_sql())
    assert set(seen) == graded, {
        "graded but never compared": sorted(graded - set(seen)),
        "compared but not graded": sorted(set(seen) - graded),
    }


def test_family_tests_read_the_graded_sql():
    oracles = entry.oracle_sql()
    drift = [
        (test_id, g)
        for test_id, (gates, sql) in FAMILY_TESTS.items()
        for g in gates
        if sql[g] != oracles.get(g)
    ]
    assert not drift, f"family oracle SQL differs from oracle_sql(): {drift}"
