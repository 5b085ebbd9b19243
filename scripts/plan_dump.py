"""Dump ``explain("formatted")`` for named gates to files — the
plan-evidence step of the optimization round (guide §1: capture the plan
shape before and after every change). Run from the repo root::

    python scripts/plan_dump.py SUFFIX GATE [GATE ...]

writes ``plans/$SPARK_GRAFT_PLANS_DIR (default r14)/<gate>_<SUFFIX>.txt`` for each gate, using the same
session factory as the bench so the plans match what the bench executes
(local[$SPARK_GRAFT_CPUS], AQE on; plans show isFinalPlan=false).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from data_table_spark.session import get_spark  # noqa: E402
from data_table_spark.sources.registry import DEFAULT_SF_DIR  # noqa: E402


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__, file=sys.stderr)
        return 2
    suffix, gates = sys.argv[1], sys.argv[2:]
    import __spark_entry__ as entry_mod

    spark = get_spark(app_name="plan_dump")
    qs = entry_mod.queries()
    out_dir = os.path.join(
        REPO, "plans", os.environ.get("SPARK_GRAFT_PLANS_DIR", "r14")
    )
    os.makedirs(out_dir, exist_ok=True)
    for g in gates:
        df = qs[g](spark, DEFAULT_SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{g}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path} ({buf.getvalue().count('Exchange')} Exchange refs)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
