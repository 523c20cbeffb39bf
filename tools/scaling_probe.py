"""Per-query timing at any SF dir, one fresh SparkSession per
invocation, with optional conf overrides and an aged-session warm-up —
the harness behind the SCALE.md exponent tables and the round-10
anti-scaling bisect (VERDICT r9 #1/#8: every claim needs a
fresh-session confirmation at the driver's core counts).

Usage:
  SPARK_GRAFT_CPUS=32 python tools/scaling_probe.py SF_DIR \
      [--runs N] [--conf key=value ...] [--warmup N] query [query ...]

Statistic: bench.py's, from the same ``bench.timed_runs`` loop — each
run noop-forced, tracked persists released after every run, min of all
runs (the codegen run included; host load only adds time).

--warmup N ages the session the way a bench run does before it reaches
a query: the first N bench-order queries (``bench.BENCH_QUERIES``) run
once each before any target; N=-1 takes every bench query that
precedes the first target in bench order. The r9 link_prediction_parts
regression (10.6 s @32c late in the full bench, 3.4 s in a fresh
session) lived in session age x core count, so the bisect must be able
to dial session age.

Every name is checked before any is timed. Prints one JSON line
{"cpus": N, "conf": {...}, "warmup": n_warmup_queries,
"queries": {name: {"min": s, "all": [...]}}}. Exponent between two SFs
= log(t_big/t_small) / log(volume_ratio); see tools/scaling_report.py
for the two-detail-file variant.
"""

from __future__ import annotations

import json
import os
import sys
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    args = sys.argv[1:]
    if not args:
        print(__doc__)
        sys.exit(2)
    sf_dir = args[0]
    rest = list(args[1:])
    runs = 3
    warmup = 0
    conf: dict[str, str] = {}
    i = 0
    names: list[str] = []
    while i < len(rest):
        if rest[i] in ("--runs", "--conf", "--warmup") and i + 1 >= len(rest):
            print(f"{rest[i]} needs a value", file=sys.stderr)
            sys.exit(2)
        if rest[i] == "--runs":
            runs = int(rest[i + 1]); i += 2
        elif rest[i] == "--warmup":
            warmup = int(rest[i + 1]); i += 2
        elif rest[i] == "--conf":
            k, _, v = rest[i + 1].partition("="); conf[k] = v; i += 2
        else:
            names.append(rest[i]); i += 1
    if not names:
        print(__doc__)
        sys.exit(2)

    from bench import BENCH_QUERIES, timed_runs
    from go_streams_spark.session import get_spark
    from go_streams_spark.queries import QUERIES

    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        sys.exit(1)
    if warmup == -1:
        benched = [BENCH_QUERIES.index(n) for n in names if n in BENCH_QUERIES]
        if not benched:
            print("--warmup -1 needs a target in bench.BENCH_QUERIES",
                  file=sys.stderr)
            sys.exit(2)
        warmup = min(benched)
    warm_list = [n for n in BENCH_QUERIES[:warmup] if n not in names]

    spark = get_spark("scaling-probe", extra_conf=conf or None)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    warm_sec = 0.0
    for name in warm_list:
        spark.sparkContext.setJobDescription(f"warmup: {name}")
        warm_sec += timed_runs(partial(QUERIES[name], spark, sf_dir), 1)[0]
    if warm_list:
        print(f"warmup: {len(warm_list)} queries in {warm_sec:.1f}s",
              file=sys.stderr)

    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"probe: {name}")
        sample = [round(t, 3) for t in
                  timed_runs(partial(QUERIES[name], spark, sf_dir), runs)]
        out[name] = {"min": min(sample), "all": sample}
        print(f"{name}: {out[name]['min']} {sample}", file=sys.stderr)
    print(json.dumps({"cpus": cpus, "conf": conf, "warmup": len(warm_list),
                      "queries": out}))


if __name__ == "__main__":
    main()
