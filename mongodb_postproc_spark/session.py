"""SparkSession factory.

One place to build sessions so tests, bench, and the driver contract all get
identical configuration. Local mode here; on a real cluster the same builder
is driven by spark-submit conf (master/executors come from the submit args,
everything else below still applies).

Scale notes (100 TB / 1000 executors):
- AQE on: runtime coalescing + skew-join splitting are the first line of
  defense against hot-host skew in the crawl tables.
- shuffle.partitions defaults to cores locally; on a cluster this should be
  ~2-3x total cores (AQE coalesces down, so err high).
- Arrow enabled: every pandas UDF (image decode, fetch simulation) moves
  columnar batches, not pickled rows.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mongodb_postproc_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    bench: bool = False,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    ``cores=None`` -> local[*]. Pass an int to pin parallelism (the bench
    scaling runs use 8 vs 32). ``bench=True`` selects the large pre-touched
    heap (see ``bench_heap_mb``); tests/dev sessions keep a small
    lazily-grown heap so a unit test neither commits it nor pays the
    multi-second pre-touch.
    Override either way with SPARK_GRAFT_PREALLOC=0/1 + SPARK_GRAFT_DRIVER_MEM.

    ``SPARK_GRAFT_MASTER_TEMPLATE`` (e.g. ``local-cluster[{n},1,3072]``)
    replaces the ``local[{n}]`` master with ``{n}`` = the requested cores —
    the multi-JVM ladder variant of the scaling protocol: real executor
    processes with their own heaps and python workers, the regime a
    spark-submit deployment runs in. Executor memory for local-cluster is
    taken from the template's per-executor MB figure by Spark itself.
    """
    template = os.environ.get("SPARK_GRAFT_MASTER_TEMPLATE")
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        ncores = int(env) if env else (os.cpu_count() or 8)
        master = f"local[{env}]" if env else "local[*]"
        if template and env:
            master = template.format(n=ncores)
    else:
        ncores = cores
        master = (template or "local[{n}]").format(n=cores)
    if shuffle_partitions is None:
        shuffle_partitions = max(ncores, 8)

    # Fixed, pre-touched heap for BENCH sessions: incremental heap growth on
    # this kernel page-faults through THP compaction — a cold 4.7M-row
    # shuffle measured 64s at 25% system time vs 18s at 1% with
    # -Xms=-Xmx + AlwaysPreTouch (one-time ~3s at session start). Gated off
    # for tests/dev so small sessions don't commit the heap up front.
    prealloc_env = os.environ.get("SPARK_GRAFT_PREALLOC")
    prealloc = bench if prealloc_env is None else prealloc_env == "1"
    driver_mem = os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", f"{bench_heap_mb()}m" if prealloc else "4g"
    )
    java_opts = f"-Xms{driver_mem} -XX:+AlwaysPreTouch" if prealloc else ""

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(ncores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


BENCH_HEAP_CAP_MB = 16 * 1024


def bench_heap_mb() -> int:
    """Pre-touched bench heap: BENCH_HEAP_CAP_MB, or a third of the host's
    MemAvailable when that is smaller, in 256 MB steps. A fixed 16 GB heap
    cannot start on a 15 GB host — the pre-touch commits all of it — and
    the Python workers and page cache need the rest of the memory."""
    try:
        with open("/proc/meminfo") as f:
            avail_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemAvailable:"))
    except (OSError, StopIteration):  # no Linux meminfo: keep the cap
        return BENCH_HEAP_CAP_MB
    return max(256, min(BENCH_HEAP_CAP_MB, avail_kb // 1024 // 3 // 256 * 256))


def physical_cores() -> int:
    """Best-effort physical core count. A python-stage task occupies a JVM
    task thread AND a python worker concurrently, so compute-heavy
    pipelines schedule best at ~one task per PHYSICAL core — SMT siblings
    only time-share them (measured: local[16] beats local[32] by ~25% on
    the crawl round here). Sysfs topology when it distinguishes siblings;
    otherwise cpu_count/2 (VMs like this one present every SMT thread as
    its own core). Override with SPARK_GRAFT_PHYS_CORES."""
    env = os.environ.get("SPARK_GRAFT_PHYS_CORES")
    if env:
        return int(env)
    ncpu = os.cpu_count() or 8
    import glob

    cores = set()
    paths = glob.glob("/sys/devices/system/cpu/cpu[0-9]*/topology/core_id")
    for p in paths:
        try:
            pkg = p.replace("core_id", "physical_package_id")
            with open(p) as f1, open(pkg) as f2:
                cores.add((f2.read().strip(), f1.read().strip()))
        except OSError:
            break
    if cores and len(paths) == ncpu:
        # complete topology: len(cores) == ncpu means no SMT (each CPU its
        # own core — true on this round's host: lscpu 1 thread/core, and
        # local[32] measures FASTER than local[16] on the crawl round);
        # len(cores) < ncpu counts the physical cores behind the siblings.
        # A hypervisor that fabricates per-thread core_ids over-reports
        # here — override with SPARK_GRAFT_PHYS_CORES on such hosts.
        return len(cores)
    return max(1, ncpu // 2)


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
