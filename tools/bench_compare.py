"""Round-over-round bench comparison: geomean ratio and per-query
deltas over the intersection of two bench JSON files (BENCH_r{N}.json
or BENCH_DETAIL.json — anything with a "queries" map), with the
min/median spread (when present) used to classify deltas as noise vs
signal.

Usage: python tools/bench_compare.py OLD.json NEW.json [top_n]

A delta is NOISE if it is no larger than the two runs' min-vs-median
gaps for that query summed, floored at 5% of the old time (host load
only ever adds time, so each gap is that bench window's own noise
bound) — the same rule as the pipeline comparison below.
"""

from __future__ import annotations

import json
import math
import sys


def load(path: str):
    d = json.load(open(path))
    if "parsed" in d and isinstance(d["parsed"], dict):
        d = d["parsed"]  # driver BENCH_r{N}.json wrapper (10 slowest only)
    return d.get("queries", {}) or {}, d.get("spread", {}) or {}, d


def _gap(spread: dict | None, t: float) -> float:
    """One run's min-vs-median gap for a query (0 without a spread)."""
    if not spread:
        return 0.0
    return max(0.0, spread.get("median", t) - spread.get("min", t))


def compare_pipeline(old_d: dict, new_d: dict) -> None:
    """Spread-aware pipeline-throughput comparison (round-9 verdict
    task #6): a median-over-median drop counts as SIGNAL only when it
    exceeds BOTH runs' own min-vs-median gaps combined — each gap is
    that bench window's measured host-load noise (load only ever adds
    time), so a drift inside the summed gaps is noise by construction."""
    ot, nt = old_d.get("pipeline_times_sec"), new_d.get("pipeline_times_sec")
    if not ot or not nt:
        return
    om = sorted(ot)[len(ot) // 2]
    nm = sorted(nt)[len(nt) // 2]
    gap = (om - min(ot)) + (nm - min(nt))
    o_ev, n_ev = old_d.get("n_events"), new_d.get("n_events")
    drop = nm - om
    klass = "SIGNAL" if drop > gap else "noise"
    print(f"\npipeline (median-of-{len(nt)} vs median-of-{len(ot)}): "
          f"{om:.3f}s -> {nm:.3f}s  "
          f"(noise bound {gap:.3f}s -> {klass})")
    if o_ev and n_ev:
        print(f"  events/s median: {int(o_ev / om)} -> {int(n_ev / nm)}; "
              f"min-based headline: {int(o_ev / min(ot))} -> "
              f"{int(n_ev / min(nt))}")


def main():
    old_path, new_path = sys.argv[1], sys.argv[2]
    top_n = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    old_q, old_spread, old_d = load(old_path)
    new_q, new_spread, new_d = load(new_path)
    common = sorted(set(old_q) & set(new_q))
    if not common:
        print("no common queries")
        return
    ratios = []
    rows = []
    for q in common:
        o, n = old_q[q], new_q[q]
        if o <= 0 or n <= 0:
            continue
        r = n / o
        ratios.append(math.log(r))
        gap = _gap(old_spread.get(q), o) + _gap(new_spread.get(q), n)
        noise = abs(n - o) <= max(gap, 0.05 * o)
        rows.append((q, o, n, r, noise))
    geo = math.exp(sum(ratios) / len(ratios))
    n_signal = sum(1 for *_, noise in rows if not noise)
    print(f"common queries: {len(rows)}  geomean new/old: {geo:.3f}x  "
          f"beyond-noise deltas: {n_signal}")
    rows.sort(key=lambda t: -t[3])
    print("\nslower (worst first):")
    print("| query | old s | new s | ratio | class |")
    print("|---|---|---|---|---|")
    for q, o, n, r, noise in rows[:top_n]:
        if r <= 1:
            break
        print(f"| {q} | {o:.2f} | {n:.2f} | {r:.2f}x | "
              f"{'noise' if noise else 'SIGNAL'} |")
    print("\nfaster (best first):")
    print("| query | old s | new s | ratio | class |")
    print("|---|---|---|---|---|")
    for q, o, n, r, noise in rows[::-1][:top_n]:
        if r >= 1:
            break
        print(f"| {q} | {o:.2f} | {n:.2f} | {r:.2f}x | "
              f"{'noise' if noise else 'SIGNAL'} |")
    compare_pipeline(old_d, new_d)


if __name__ == "__main__":
    if len(sys.argv) < 3:
        print(__doc__)
        sys.exit(1)
    main()
