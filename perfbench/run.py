#!/usr/bin/env python3
"""Crawl benchmark for the ``mongodb_postproc_spark`` crawl engine.

Run from the repository root:

    python3 perfbench/run.py --workload deep-crawl --seed 1 --seconds 5 --trace 0

One run starts one Spark session at ``local[<cores>]``, sets up one crawl
through the public ``CrawlEngine`` API, times its first round, reads the
deliverables back, checks every output against the sequential oracle and
prints one JSON object as its last stdout line. A run whose timed round is
shorter than ``--seconds`` fails without a result. ``--trace 1`` runs the same
workload with span, profiler and event-log tracing and reports the
per-layer metrics instead of the end-to-end ones. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import multiprocessing
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

import gate
import tracing

ROOT = os.getcwd()
PKG_DIR = os.path.join(ROOT, "mongodb_postproc_spark")
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
HEAP_CAP_MB = 2048
# The readback is a few seconds of short Spark jobs, so one pass is at the
# mercy of a burst of host noise; the median of three passes is not.
READBACK_PASSES = 3


@dataclass(frozen=True)
class Workload:
    name: str
    n_hosts: int
    hot_pages: int
    cold_pages: int
    n_seeds: int
    per_host_cap: int
    status_mix: bool = False
    frag_queries: bool = True
    # seen_state fold cadence for this run's engine, chosen so the fold
    # lands in the timed round (None keeps the engine default)
    fold_epochs: int | None = None

    def config(self, seed: int):
        from mongodb_postproc_spark.datagen.web import CrawlConfig, WebConfig

        return CrawlConfig(
            n_seeds=self.n_seeds,
            max_rounds=1,
            per_host_cap=self.per_host_cap,
            web=WebConfig(
                n_hosts=self.n_hosts,
                hot_pages=self.hot_pages,
                cold_pages=self.cold_pages,
                seed=f"perfbench-{seed}",
                status_mix=self.status_mix,
                frag_queries=self.frag_queries,
            ),
        )


# Each run times the first round after init_crawl: a cold session and
# init already take 35-45 s of the ~70 s a run may use (see README.md), so
# the rounds are sized to fill most of the rest with per-URL work.
WORKLOADS = {
    # One uncapped round over a seed frontier spread across 997 hosts of a
    # large web: extract+dedup+probe, the state appends and the pages write
    # carry it, the salted schedule pre-pass is skipped, and the seen set
    # holds only the seeds, so probes mostly miss.
    "wide-round": Workload(
        "wide-round", n_hosts=997, hot_pages=200_000, cold_pages=2_000,
        n_seeds=10_000, per_host_cap=10**9,
    ),
    # A politeness-capped round (300 hosts x 20) on a small web the seeds
    # mostly cover (no query-string variants, which seeds never carry),
    # with the HTTP status mix on: probes mostly hit, the per-host windows
    # bind, 503/410/301 rows take the failure routing, and the round folds
    # seen_state.
    "deep-crawl": Workload(
        "deep-crawl", n_hosts=300, hot_pages=60, cold_pages=50,
        n_seeds=30_000, per_host_cap=20, status_mix=True, frag_queries=False,
        fold_epochs=2,
    ),
}


# ------------------------------------------------------------------ host
def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def heap_mb() -> int:
    """Driver heap: HEAP_CAP_MB, or a third of MemAvailable when that is
    smaller (in 256 MB steps); the crawl state of these workloads fits in
    well under 1 GB."""
    avail_mb = _meminfo_kb("MemAvailable") // 1024
    heap = min(HEAP_CAP_MB, avail_mb // 3 // 256 * 256)
    if heap < 1024:
        raise SystemExit(f"perfbench: only {avail_mb} MB available, need 3 GB")
    return heap


def cores() -> int:
    return len(os.sched_getaffinity(0))


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants() -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_hwm_mb() -> float:
    """Sum of VmHWM over this process and all its descendants (driver, JVM,
    Python workers)."""
    total = 0
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants, so that a
    Python worker whose parent JVM has exited is re-parented here and can be
    waited for instead of outliving the run."""
    libc = ctypes.CDLL(None, use_errno=True)
    pr_set_child_subreaper = 36
    if libc.prctl(pr_set_child_subreaper, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_descendants(grace_s: float = 10.0) -> None:
    """Terminate every process left below this one and wait until none is
    left: SIGTERM first, SIGKILL to any still there after ``grace_s``. On
    Linux pyspark's gateway JVM exits by itself only when its stdin closes,
    after this process has exited, so without this the JVM and its Python
    workers would outlive the run. As the subreaper this process inherits
    every orphaned descendant, so having no child left means having no
    descendant left."""
    start, signalled = time.monotonic(), {}
    while True:
        waited = time.monotonic() - start
        if waited > grace_s + 30:
            raise RuntimeError(f"processes {descendants()} survived SIGKILL")
        sig = signal.SIGKILL if waited > grace_s else signal.SIGTERM
        for pid in descendants():
            if signalled.get(pid) != sig:
                signalled[pid] = sig
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        time.sleep(0.05)


def commit_id() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def setup_env(work: str, heap: int) -> None:
    """Pin the session to this run before pyspark starts the JVM: heap via
    the variables session.py reads, the checkout on the workers' import
    path, temp and shuffle files under the run's work dir, and no other
    SPARK_GRAFT_* knob left to change behaviour between runs."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_DRIVER_MEM": f"{heap}m",
        "SPARK_GRAFT_PREALLOC": "1",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # no hsperfdata files: the JVM writes those under /tmp regardless
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    })
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


# ------------------------------------------------------------------ crawl
def table_sizes(workdir: str) -> dict[str, tuple[int, int]]:
    """{table: (bytes, data files)} of every table directory in a workdir."""
    out = {}
    for t in sorted(os.listdir(workdir)):
        d = os.path.join(workdir, t)
        if not os.path.isdir(d):
            continue
        size = files = 0
        for root, _dirs, fns in os.walk(d):
            for fn in fns:
                if fn.endswith(".parquet"):
                    size += os.path.getsize(os.path.join(root, fn))
                    files += 1
        out[t] = (size, files)
    return out


def readback(eng) -> tuple[dict[str, float], dict]:
    """Produce the deliverables from the committed snapshots, timing each:
    the ordered fetch log, the seen set, a scan of the images projection
    and the failed set."""
    from pyspark.sql import functions as F

    times, rows = {}, {}
    t = time.monotonic()
    rows["fetch_log"] = eng.fetch_log().toPandas()
    times["fetch_log"] = time.monotonic() - t
    t = time.monotonic()
    rows["seen_set"] = eng.seen_set().select("url_canon").toPandas()
    times["seen_set"] = time.monotonic() - t
    t = time.monotonic()
    eng.images().agg(F.count(F.lit(1)), F.sum(F.length("bytes"))).collect()
    times["images"] = time.monotonic() - t
    t = time.monotonic()
    rows["failed_set"] = eng.failed_set().select("url_canon", "status").toPandas()
    times["failed_set"] = time.monotonic() - t
    return times, rows


def crawl_summary(stats: list, rows) -> dict:
    """Digests of one crawl's round stats and read-back outputs, comparable
    with the oracle's."""
    fl = rows["fetch_log"]
    fd = rows["failed_set"]
    return gate.summarize(
        [vars(s) for s in stats],
        zip(fl["seq"], fl["url_canon"], fl["host"], fl["round"]),
        rows["seen_set"]["url_canon"],
        zip(fd["url_canon"], fd["status"]),
    )


def old_gen_peak_mb(spark) -> float:
    """Peak used size of the JVM's old-generation heap pool, where
    long-lived and humongous objects live. The pre-touched heap hides heap
    growth from VmHWM; this reading shows it."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(
        p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
        if p.getType().name() == "HEAP" and "Old Gen" in p.getName()
    ) / 2**20


def _oracle_child(cfg, cache_dir: str, source: str) -> None:
    os.sched_setscheduler(0, os.SCHED_IDLE, os.sched_param(0))
    gate.cached_oracle(cfg, cache_dir, source)


def start_oracle(cfg, cache_dir: str, source: str):
    """Fill the oracle cache for ``cfg`` in a forked process at idle CPU
    priority, so it runs in the set-up's idle cycles. Fork before the JVM
    starts; join before the timed round."""
    proc = multiprocessing.get_context("fork").Process(
        target=_oracle_child, args=(cfg, cache_dir, source), daemon=True
    )
    proc.start()
    return proc


def images_violations(eng) -> int:
    """validate_images over a deterministic eighth of the images."""
    from mongodb_postproc_spark.crawl.engine import validate_images
    from pyspark.sql import functions as F

    sample = eng.images().filter(F.pmod(F.xxhash64("url_canon"), F.lit(8)) == 0)
    return validate_images(sample).count()


def distinct_candidates(spark, eng, rnd: int) -> int:
    """Distinct canonical link targets of one round's pages: the
    denominator of the seen set's hit share."""
    from mongodb_postproc_spark.crawl.canonicalize import canonical_url_col
    from pyspark.sql import functions as F

    cands = (
        eng.catalog.read("pages", spark)
        .filter(F.col("round") == rnd)
        .select(F.explode("links").alias("raw"))
        .select(canonical_url_col(F.col("raw")).alias("u"))
        .filter(F.col("u").isNotNull())
        .distinct()
    )
    return cands.count()


def run(wl: Workload, seed: int, seconds: float, trace: bool) -> tuple[dict, list, dict]:
    """(metrics, gate checks, stamp) of one run of ``wl``."""
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    heap = heap_mb()
    ncores = cores()
    setup_env(work, heap)
    stamp = {
        "workload": wl.name, "seed": seed, "trace": int(trace), "cores": ncores,
        "mem_total_mb": _meminfo_kb("MemTotal") // 1024, "heap_mb": heap,
        "commit": commit_id(), "source": gate.source_digest(PKG_DIR)[:16],
    }
    try:
        return _run(wl, seed, seconds, trace, work, ncores, stamp)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(wl, seed, seconds, trace, work, ncores, stamp):
    extra = {"spark.ui.showConsoleProgress": "false"}
    prof_dir = os.path.join(work, "profiles")
    events = os.path.join(work, "events")
    if trace:
        os.makedirs(events)
        extra.update({
            "spark.sql.pyspark.udf.profiler": "perf",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "true",
        })
    cfg = wl.config(seed)
    oracle_dir = os.path.join(WORK_ROOT, "oracle")
    oracle_proc = start_oracle(cfg, oracle_dir, stamp["source"])
    spark = None
    try:
        t = time.monotonic()
        from mongodb_postproc_spark.crawl.engine import CrawlEngine
        from mongodb_postproc_spark.session import get_spark

        spark = get_spark(f"perfbench-{wl.name}", cores=ncores, extra_conf=extra)
        session_s = time.monotonic() - t
        tracer = tracing.Tracer() if trace else None
        eng = CrawlEngine(spark, cfg, os.path.join(work, "crawl"))
        if wl.fold_epochs is not None:
            eng.SEEN_COMPACT_EPOCHS = wl.fold_epochs
        if tracer:
            tracing.instrument_engine(tracer, eng)
        t = time.monotonic()
        eng.init_crawl()
        init_s = time.monotonic() - t
        sizes_init = table_sizes(eng.workdir)
        if trace:
            spark.profile.dump(os.path.join(prof_dir, "setup"), type="perf")
            spark.profile.clear(type="perf")
        state = eng.load_state()

        t = time.monotonic()
        oracle_proc.join()
        stamp["oracle_wait_s"] = time.monotonic() - t
        if oracle_proc.exitcode != 0:
            raise RuntimeError(f"oracle process exited with {oracle_proc.exitcode}")

        t = time.monotonic()
        if tracer:
            with tracer.span("engine.run_round") as round_span:
                out = eng.run_round(state)
        else:
            out = eng.run_round(state)
        wall = time.monotonic() - t
        if out is None:
            raise RuntimeError(f"{wl.name}: the seed frontier is empty")
        if wall < seconds:
            raise SystemExit(
                f"perfbench: the timed round took {wall:.2f} s, less than "
                f"--seconds {seconds}; enlarge the workload"
            )
        stats = out[1]

        t_post = time.monotonic()
        passes = [readback(eng) for _ in range(READBACK_PASSES)]
        read_rows = passes[0][1]
        read_times = {
            p: statistics.median(t[p] for t, _ in passes) for p in passes[0][0]
        }
        readback_s = statistics.median(sum(t.values()) for t, _ in passes)
        rss_mb = tree_hwm_mb()
        summary = crawl_summary([stats], read_rows)
        bad_images = images_violations(eng)
        layer = {}
        if trace:
            layer["jvm.old_gen_peak_mb"] = old_gen_peak_mb(spark)
            spark.profile.dump(os.path.join(prof_dir, "rounds"), type="perf")
            n_distinct = distinct_candidates(spark, eng, stats.round)
            layer["seen.hit_share"] = 1.0 - stats.new_urls / n_distinct
        sizes = table_sizes(eng.workdir)
    finally:
        if spark is not None:
            spark.stop()
        if oracle_proc.is_alive():
            oracle_proc.kill()
        oracle_proc.join()
        stop_descendants()
    oracle = gate.cached_oracle(cfg, oracle_dir, stamp["source"])
    stamp["post_s"] = time.monotonic() - t_post
    checks = gate.compare(oracle, summary) + [("images", bad_images == 0)]

    seen_after = stats.seen_after
    state_bytes = sum(b for t, (b, _) in sizes.items() if t != "pages")

    if not trace:
        metrics = {
            "crawl_urls_per_s": stats.fetched / wall,
            "readback_s": readback_s,
            "setup_s": session_s + init_s,
            "state_bytes_per_url": state_bytes / seen_after,
            "peak_rss_mb": rss_mb,
        }
    else:
        layer.update(derive_traced(tracer, [round_span], prof_dir, events, ncores))
        layer.update({
            "trace.crawl_urls_per_s": stats.fetched / wall,
            "session.start_s": session_s,
            "engine.init_crawl_s": init_s,
        })
        for p in ("fetch_log", "seen_set", "images", "failed_set"):
            layer[f"tables.read_s.{p}"] = read_times[p]
        for t in ("frontier", "seen", "blocked", "pages", "seen_state", "lineage",
                  "metrics", "failed"):
            b, n = sizes.get(t, (0, 0))
            layer[f"tables.bytes_per_url.{t}"] = b / seen_after
            layer[f"tables.files_per_round.{t}"] = n - sizes_init.get(t, (0, 0))[1]
        for k in ("fetched", "links_extracted", "new_urls", "frontier_after",
                  "seen_after", "retried", "failed", "redirects"):
            layer[f"work.{k}"] = getattr(stats, k)
        metrics = layer

    stamp.update({
        "checks_failed": [c for c, ok in checks if not ok],
        "round": vars(stats),
        "round_wall_s": wall,
        "session_s": session_s,
        "init_s": init_s,
        "readback_s": [t for t, _ in passes],
    })
    return metrics, checks, stamp


def derive_traced(tracer, round_spans, prof_dir, events, ncores) -> dict:
    derived = tracing.derive_round_metrics(round_spans, tracer.spans)
    out = dict(derived["metrics"])
    setup = tracing.udf_seconds(tracing.load_profiles(os.path.join(prof_dir, "setup")))
    rounds = tracing.udf_seconds(tracing.load_profiles(os.path.join(prof_dir, "rounds")))
    for k, v in rounds.items():
        if k != "udf.seed_gen_py_s":
            out[k] = v
    out["udf.seed_gen_py_s"] = setup["udf.seed_gen_py_s"]
    jobs, tasks = tracing.read_event_log(events)
    out.update(tracing.spark_phase_metrics(
        derived["windows"], jobs, tasks, ncores, len(round_spans)
    ))
    return out


def metric_units(trace: bool) -> dict[str, str]:
    """{name: unit} of the metrics BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(PKG_DIR, "__init__.py")):
        print(f"perfbench: no mongodb_postproc_spark package under {ROOT}; "
              "run from the repository root", file=sys.stderr)
        return 2
    units = metric_units(bool(args.trace))
    become_subreaper()
    metrics, checks, stamp = run(
        WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace)
    )
    if set(metrics) != set(units):
        raise RuntimeError(
            f"metrics out of sync with BENCHMARK.json: missing {set(units) - set(metrics)}, "
            f"undeclared {set(metrics) - set(units)}"
        )
    result = {
        "correct": all(ok for _, ok in checks),
        "attempted": len(checks),
        "failed": sum(1 for _, ok in checks if not ok),
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    print(json.dumps({"perfbench_stamp": stamp}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
