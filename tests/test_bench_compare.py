"""tools/bench_compare.py classifies a per-query delta against both
runs' min-vs-median spread, not the new run's alone."""

import json
import os
import subprocess
import sys

TOOL = os.path.join(os.path.dirname(__file__), "..", "tools", "bench_compare.py")


def test_bench_compare_noise_bound_sums_both_spreads(tmp_path):
    # +0.3 s is inside the old run's 0.5 s gap plus the new run's
    # 0.02 s gap, so it is noise; the new gap alone would call it signal
    old, new = tmp_path / "old.json", tmp_path / "new.json"
    old.write_text(json.dumps({"queries": {"q": 1.0},
                               "spread": {"q": {"min": 1.0, "median": 1.5}}}))
    new.write_text(json.dumps({"queries": {"q": 1.3},
                               "spread": {"q": {"min": 1.3, "median": 1.32}}}))
    out = subprocess.run([sys.executable, TOOL, str(old), str(new)],
                         capture_output=True, text=True, timeout=60, check=True)
    assert "beyond-noise deltas: 0" in out.stdout, out.stdout
