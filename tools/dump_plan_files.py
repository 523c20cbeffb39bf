"""Dump `.explain("formatted")` for named queries into per-query files.

Usage: python tools/dump_plan_files.py OUT_DIR SUFFIX query [query ...]
       (SF dir from $SPARK_GRAFT_SF_DIR, default /root/testdata/sf0.1)

Writes OUT_DIR/<query>_<SUFFIX>.txt — the judge-facing plan evidence
(plans/r09/*_before.txt / *_after.txt).

Each query's own plan runs once first (``queryExecution().toRdd()
.count()``: the rows are counted on the executors, none is collected
to the driver), so the dump is AQE's final plan (``isFinalPlan=true``)
with its exchange reuse and runtime re-planning, not the initial plan
an explain-only run shows.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    if len(sys.argv) < 4:
        print(__doc__)
        sys.exit(2)
    out_dir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]

    from go_streams_spark.session import get_spark
    from go_streams_spark.plans import explain_str, release_tracked
    from go_streams_spark.queries import QUERIES

    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        sys.exit(1)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("dump-plan-files")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        df._jdf.queryExecution().toRdd().count()
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(explain_str(df, mode="formatted"))
        release_tracked()
        print(path)


if __name__ == "__main__":
    main()
