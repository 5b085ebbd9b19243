"""Check gates against their DuckDB oracles with the driver-faithful Arrow
comparator from tests/oracle_util.py, under a RAW ``SparkSession`` (no
tuned session-factory configs, as the driver runs). Run from the repo
root::

    python scripts/oracle_check.py                  # every gate, sf0.01
    python scripts/oracle_check.py --first 50       # the graded window
    python scripts/oracle_check.py q171_anova_f q172_bloom_prefilter
    python scripts/oracle_check.py --sf /root/testdata/sf0.1 q171_anova_f

Named gates run at sf0.01 and sf0.001 unless ``--sf`` is given (it
repeats). Gates without an oracle get a rows-only smoke check. Exit 0
iff every checked gate is green. There is no retry: a flaky gate fails
the run, and you rerun it by name.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from oracle_util import compare_to_oracle, duck_connection  # noqa: E402

TESTDATA = "/root/testdata"


def check_gate(spark, con, sf, build, oracle) -> tuple[bool, str]:
    try:
        df = build(spark, sf)
        if oracle is None:
            return df.count() >= 0, "rows-only"
        return compare_to_oracle(df, con, oracle)
    except Exception as e:  # noqa: BLE001 - reported as a failed gate
        return False, f"EXC {type(e).__name__}: {e}"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("gates", nargs="*", help="gate names (default: all)")
    ap.add_argument("--sf", action="append", metavar="DIR",
                    help="fixture directory; repeat for several")
    ap.add_argument("--first", type=int, metavar="N",
                    help="only the first N gates of queries()")
    args = ap.parse_args(argv)

    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    unknown = [g for g in args.gates if g not in qs]
    if unknown:
        print("NOT REGISTERED:", unknown)
        return 2
    names = args.gates or list(qs)[: args.first]
    sfs = args.sf or [f"{TESTDATA}/sf0.01"] + (
        [f"{TESTDATA}/sf0.001"] if args.gates else [])

    # raw session on purpose: the driver does not use our session factory
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("oracle_check")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .getOrCreate()
    )
    if not args.gates and args.first is None:
        print("entry rows:", len(entry_mod.entry(spark).collect()))
    fails = []
    for sf in sfs:
        con = duck_connection(sf)
        for i, name in enumerate(names, 1):
            t0 = time.time()
            ok, msg = check_gate(spark, con, sf, qs[name], oracles.get(name))
            print(f"[{i:3d}/{len(names)}] {os.path.basename(sf):8s} "
                  f"{name:34s} {'ok' if ok else 'FAIL':4s} "
                  f"{time.time() - t0:6.2f}s  {msg[:160]}", flush=True)
            if not ok:
                fails.append(f"{name} @ {sf}: {msg[:300]}")
    total = len(names) * len(sfs)
    print(f"\n{total - len(fails)}/{total} green")
    for f in fails:
        print("  FAIL", f)
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
