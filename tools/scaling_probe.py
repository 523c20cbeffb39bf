"""Per-query timing at any SF dir, one fresh SparkSession per
invocation, with optional conf overrides — the harness behind the
SCALE.md exponent tables and the round-10 anti-scaling bisect (VERDICT
r9 #1/#8: every claim needs a fresh-session confirmation at the
driver's core counts).

Usage:
  SPARK_GRAFT_CPUS=32 python tools/scaling_probe.py SF_DIR \
      [--runs N] [--conf key=value ...] query [query ...]

Statistic: noop-forced, run 1 (which pays codegen) dropped, min of the
remaining runs; tracked persists released between runs (bench.py's
min keeps run 1). Every
name is checked before any is timed. Prints one JSON line {"cpus": N,
"conf": {...}, "queries": {name: {"min": s, "all": [...]}}}. Exponent
between two SFs = log(t_big/t_small) / log(volume_ratio); see
tools/scaling_report.py for the two-detail-file variant.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    args = sys.argv[1:]
    if not args:
        print(__doc__)
        sys.exit(2)
    sf_dir = args[0]
    rest = list(args[1:])
    runs = 3
    conf: dict[str, str] = {}
    i = 0
    names: list[str] = []
    while i < len(rest):
        if rest[i] in ("--runs", "--conf") and i + 1 >= len(rest):
            print(f"{rest[i]} needs a value", file=sys.stderr)
            sys.exit(2)
        if rest[i] == "--runs":
            runs = int(rest[i + 1]); i += 2
        elif rest[i] == "--conf":
            k, _, v = rest[i + 1].partition("="); conf[k] = v; i += 2
        else:
            names.append(rest[i]); i += 1
    if not names:
        print(__doc__)
        sys.exit(2)

    from go_streams_spark.session import get_spark
    from go_streams_spark.plans import release_tracked
    from go_streams_spark.queries import QUERIES

    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        sys.exit(1)

    spark = get_spark("scaling-probe", extra_conf=conf or None)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"probe: {name}")
        sample = []
        for _ in range(runs):
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.format("noop") \
                .mode("overwrite").save()
            sample.append(round(time.perf_counter() - t0, 3))
            release_tracked()
        out[name] = {"min": min(sample[1:]) if len(sample) > 1 else sample[0],
                     "all": sample}
        print(f"{name}: {out[name]['min']} {sample}", file=sys.stderr)
    print(json.dumps({"cpus": cpus, "conf": conf, "queries": out}))


if __name__ == "__main__":
    main()
