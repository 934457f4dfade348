#!/usr/bin/env python
"""Per-query plan snapshots for a before/after optimization diff.

Writes plans/<subdir>/<query>_<suffix>.txt — one formatted physical
plan per named query (no names → all headliners) — so a before/after
plan diff backs every optimization claim (plans/r10 and plans/r11 back
OPTIMIZATION_r10.md and OPTIMIZATION_r11.md).

Usage: python scripts/snapshot_plans.py <subdir> <before|after> [query ...]
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from chillastic_spark.plans import formatted_plan
from chillastic_spark.queries import all_queries
from chillastic_spark.session import get_spark

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PLANS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans"
)


def main() -> None:
    if len(sys.argv) < 3 or sys.argv[2] not in ("before", "after"):
        sys.exit(__doc__)
    subdir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    out_dir = os.path.join(PLANS_DIR, subdir)
    qs = all_queries()
    if not names:
        names = [n for n, q in qs.items() if q.headline]
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(f"plans-{subdir}")
    spark.sparkContext.setLogLevel("ERROR")
    for n in names:
        df = qs[n].fn(spark, SF)
        path = os.path.join(out_dir, f"{n}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"# {n} — sf dir {SF} — explain('formatted')\n")
            f.write(formatted_plan(df))
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
