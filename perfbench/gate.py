"""Correctness gate: compare a benchmark crawl with the sequential oracle.

The oracle (``crawl.simulator.simulate_crawl``) is pure Python and costs
seconds per config, so its result is reduced to digests and cached on disk,
keyed by the config and a digest of the package source: a second run of the
same workload and seed reuses it, and any change to the package recomputes.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import asdict


def _sha(lines) -> str:
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def fetch_log_digest(rows) -> str:
    """Order-sensitive digest of (seq, url_canon, host, round) rows."""
    return _sha(f"{int(s)}\t{u}\t{h}\t{int(r)}" for s, u, h, r in rows)


def set_digest(items) -> str:
    """Order-free digest of a collection of strings."""
    return _sha(sorted(items))


def failed_digest(pairs) -> str:
    """Order-free digest of (url_canon, final status) pairs."""
    return _sha(sorted(f"{u}\t{int(s)}" for u, s in pairs))


def summarize(rounds: list[dict], fetch_rows, seen, failed_pairs) -> dict:
    return {
        "rounds": rounds,
        "fetch_log": fetch_log_digest(fetch_rows),
        "seen": set_digest(seen),
        "failed": failed_digest(failed_pairs),
    }


def oracle_summary(cfg) -> dict:
    from mongodb_postproc_spark.crawl.simulator import simulate_crawl

    sim = simulate_crawl(cfg)
    return summarize(sim.metrics, sim.fetch_order, sim.seen, sim.failed.items())


def source_digest(pkg_dir: str) -> str:
    h = hashlib.sha256()
    for root, dirs, files in os.walk(pkg_dir):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                p = os.path.join(root, fn)
                h.update(os.path.relpath(p, pkg_dir).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def cached_oracle(cfg, cache_dir: str, src_digest: str) -> dict:
    key = hashlib.sha256(
        (json.dumps(asdict(cfg), sort_keys=True) + src_digest).encode()
    ).hexdigest()[:32]
    path = os.path.join(cache_dir, f"{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    out = oracle_summary(cfg)
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out


def compare(expected: dict, got: dict) -> list[tuple[str, bool]]:
    """One (check, passed) entry per crawl round and per named digest."""
    out = []
    n = max(len(expected["rounds"]), len(got["rounds"]))
    for i in range(n):
        e = expected["rounds"][i] if i < len(expected["rounds"]) else None
        g = got["rounds"][i] if i < len(got["rounds"]) else None
        out.append((f"round{i}", e is not None and e == g))
    for c in ("fetch_log", "seen", "failed"):
        out.append((c, expected[c] == got[c]))
    return out
