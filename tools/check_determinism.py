"""Cross-run determinism audit: run every registry query TWICE under
different ``spark.sql.shuffle.partitions`` (different partitioning =>
different task boundaries, Arrow batch shapes, accumulation orders,
BLAS call shapes) and compare order-insensitive value hashes.

This is the harness for the bug class the correctness gate can only
catch by luck: a query whose values depend on partitioning (float
accumulation order, first()-without-order, per-partition counters
leaking into output) is green against its oracle on one run and red on
another — e.g. the round-5 ``ann_recall_report`` flake, where a
float-BLAS rounding flip at a 0.5e-6 midpoint moved a rank-5 tie-break
only under some thread counts. Every query here is REQUIRED to be a
pure function of its input tables.

Usage: python tools/check_determinism.py [sf_dir] [query ...]
(default sf_dir /root/testdata/sf0.001 — shapes, not volume, are what
vary with partitioning). Exits 1 on any mismatch.

Every PASSING query is recorded (merged) into DETERMINISM_AUDIT.json
at the repo root — {query: {"sf_hashes": {sf_dir: {hash, rows}}}} plus
a count — and entries for queries no longer in the registry are pruned
on write.
tests/test_determinism_manifest.py asserts the manifest covers the
full registry, so REGISTERING A QUERY WITHOUT AUDITING IT FAILS THE
SUITE (the round-6/round-7 audit-staleness drift, mechanized away).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pandas as pd

MANIFEST = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "DETERMINISM_AUDIT.json")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PARTS_A = "32"
PARTS_B = "7"   # coprime-ish, not a divisor: every boundary moves

#: The INTEGER-FOLD CLASS: queries whose values route through an
#: order-sensitive-looking accumulation (sequential integer folds,
#: prefix sums, seasonal-vector state, merge-table training, stateful
#: streaming twins). Exactness there is argued by integer commutativity
#: — the argument larger data stresses hardest, because more rows mean
#: more partitions, more Arrow chunk boundaries, and more reordering
#: surface. These queries are therefore audited at TWO SFs (default
#: sf0.001 like everything else, plus sf0.01 via --fold-class); the
#: manifest records per-SF hashes and tests/test_determinism_manifest.py
#: asserts the class carries both.
FOLD_CLASS = [
    "fold_running_sum", "reduce_running_max", "batch_by_count",
    "token_bucket_admissions", "throttler_discard",
    "holt_winters_hourly", "hw_anomaly_hourly", "hw_stream_hourly",
    "ks_drift_events", "procrustes_alignment_drift",
    "cusum_changepoint_hourly", "ewma_value_by_user",
    "resample_fill_forward", "incremental_agg_merge",
    "compaction_bin_packing", "unimax_budget_allocation",
    "bpe_train_merge_table", "bpe_first_merges",
    "wordpiece_segment_report", "unigram_lm_segment",
    "tokenizer_fertility_compare", "cep_funnel_pattern",
    "stream_fold_running_sum", "scd2_user_state_history",
    "cdc_latest_state_per_user", "sequence_packing_batches",
    "dedup_components", "leakage_safe_split",
    "time_decay_engagement", "trend_slope_by_type",
    "kcenter_coreset_select", "kcenter_cover_summary",
]


def value_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(list(df.columns)).reset_index(drop=True)
    return hashlib.md5(
        df.to_csv(index=False, float_format="%.9g").encode()).hexdigest()


def main():
    args = [a for a in sys.argv[1:] if a != "--fold-class"]
    fold_mode = "--fold-class" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])
    if fold_mode:
        if args[1:]:
            print("--fold-class takes no query names", file=sys.stderr)
            sys.exit(2)
        if not args:
            sf_dir = "/root/testdata/sf0.01"
        only = set(FOLD_CLASS)

    from go_streams_spark.session import get_spark
    from go_streams_spark.plans import release_tracked
    from go_streams_spark.queries import QUERIES

    spark = get_spark("determinism-check")
    failures, errors = [], []
    passed: dict[str, dict] = {}
    names = [n for n in QUERIES if not only or n in only]
    for name in names:
        hashes = []
        for parts in (PARTS_A, PARTS_B):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            try:
                pdf = QUERIES[name](spark, sf_dir).toPandas()
                hashes.append((value_hash(pdf), len(pdf)))
            except Exception as e:
                errors.append(name)
                print(f"ERROR {name} @parts={parts}: "
                      f"{type(e).__name__}: {e}")
                hashes = None
                break
            finally:
                release_tracked()
        if hashes is None:
            continue
        (ha, na), (hb, nb) = hashes
        if ha != hb:
            failures.append(name)
            print(f"NONDET {name}: parts={PARTS_A} hash={ha[:12]} "
                  f"rows={na} vs parts={PARTS_B} hash={hb[:12]} rows={nb}")
        else:
            passed[name] = {"hash": ha, "rows": na}
            print(f"OK    {name}: {na} rows, hash stable across "
                  f"partitionings")
    spark.conf.set("spark.sql.shuffle.partitions", PARTS_A)
    # Merge passing results into the manifest; prune deregistered
    # queries so the coverage test can assert strict set equality.
    manifest = {"parts": [PARTS_A, PARTS_B], "queries": {}}
    if os.path.exists(MANIFEST):
        with open(MANIFEST) as f:
            manifest = json.load(f)
    manifest["parts"] = [PARTS_A, PARTS_B]
    qs = {k: v for k, v in manifest.get("queries", {}).items()
          if k in QUERIES}
    for name, rec in passed.items():
        sfh = dict(qs.get(name, {}).get("sf_hashes", {}))
        sfh[sf_dir] = rec
        qs[name] = {"sf_hashes": dict(sorted(sfh.items()))}
    manifest["queries"] = dict(sorted(qs.items()))
    manifest["audited_count"] = len(qs)
    manifest["registry_count"] = len(QUERIES)
    manifest["fold_class"] = sorted(n for n in FOLD_CLASS if n in QUERIES)
    with open(MANIFEST, "w") as f:
        json.dump(manifest, f, indent=1)
        f.write("\n")
    print(f"manifest: {manifest['audited_count']}/"
          f"{manifest['registry_count']} registry queries audited "
          f"-> {MANIFEST}")
    print(f"\n{len(failures)} nondeterministic, {len(errors)} errors "
          f"of {len(names)} queries"
          + (f": {failures}" if failures else ""))
    sys.exit(1 if failures or errors else 0)


if __name__ == "__main__":
    main()
