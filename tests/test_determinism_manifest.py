"""Machine-checkable determinism-audit coverage.

The cross-partitioning determinism audit (tools/check_determinism.py)
protects the bug class the oracle gate only catches by luck: values
that depend on task boundaries (float accumulation order,
first()-without-order, per-partition counters). Rounds 6 and 7 both
found the audit silently STALE — queries registered after the last
run were unaudited, and only a human diff of SCALE.md §21 against the
registry could tell. This test mechanizes the staleness check: the
audit tool writes DETERMINISM_AUDIT.json (per-query stable hash,
merged incrementally, pruned of deregistered names) and this test
asserts it covers the registry EXACTLY — so registering a query
without auditing it fails the suite with the command to run.
"""

import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MANIFEST = os.path.join(REPO, "DETERMINISM_AUDIT.json")


def test_determinism_audit_covers_registry():
    from go_streams_spark.queries import QUERIES

    assert os.path.exists(MANIFEST), (
        "DETERMINISM_AUDIT.json missing — run "
        "`python tools/check_determinism.py` to audit the registry")
    with open(MANIFEST) as f:
        manifest = json.load(f)
    audited = set(manifest.get("queries", {}))
    missing = sorted(set(QUERIES) - audited)
    stale = sorted(audited - set(QUERIES))
    assert not missing, (
        f"{len(missing)} registered queries have NO cross-partitioning "
        f"determinism audit: {missing}. Run `python "
        f"tools/check_determinism.py /root/testdata/sf0.001 "
        f"{' '.join(missing)}` (the tool merges results into the "
        f"manifest).")
    assert not stale, (
        f"manifest entries for deregistered queries (re-run the audit "
        f"tool to prune): {stale}")


def test_manifest_entries_are_complete():
    if not os.path.exists(MANIFEST):
        return  # covered by the assert above
    with open(MANIFEST) as f:
        manifest = json.load(f)
    for name, rec in manifest.get("queries", {}).items():
        sfh = rec.get("sf_hashes", {})
        assert sfh, f"manifest entry for {name} has no SF record: {rec}"
        for sf_dir, sf_rec in sfh.items():
            assert {"hash", "rows"} <= set(sf_rec), (
                f"malformed {sf_dir} record for {name}: {sf_rec}")


def test_fold_class_audited_at_two_sfs():
    """The integer-fold class (sequential folds, prefix sums, seasonal
    state, merge-table training) argues partitioning-independence via
    integer commutativity — the argument MORE DATA stresses hardest
    (more partitions, more chunk boundaries, more reordering surface).
    Pin that every fold-class query carries cross-partitioning hashes
    at >= 2 scale factors, so the evidence scales with the claim
    (round-9 verdict task #8)."""
    if not os.path.exists(MANIFEST):
        return
    with open(MANIFEST) as f:
        manifest = json.load(f)
    fold = manifest.get("fold_class", [])
    assert len(fold) >= 25, (
        "fold_class missing from the manifest — re-run "
        "`python tools/check_determinism.py --fold-class`")
    thin = [n for n in fold
            if len(manifest["queries"].get(n, {}).get("sf_hashes", {})) < 2]
    assert not thin, (
        f"fold-class queries with <2 audited SFs: {thin}. Run `python "
        f"tools/check_determinism.py --fold-class` (sf0.01) after the "
        f"default sf0.001 audit.")
