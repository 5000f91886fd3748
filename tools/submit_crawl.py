"""spark-submit entry point for the crawl engine.

Run via tools/submit_crawl.sh, which zips the package and launches:

    spark-submit --master <master> --py-files /tmp/mongodb_postproc_spark.zip \
        tools/submit_crawl.py --n-seeds 5000 --rounds 2 --workdir /tmp/crawl_wd

On a real cluster only --master changes (the session builder inherits
master/executor conf from spark-submit); the engine code is identical —
partitioning, salting, and the snapshot catalog do not care how many
executors back the session. Prints one JSON line of round stats.
"""

from __future__ import annotations

import argparse
import json
import tempfile


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-seeds", type=int, default=5000)
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument("--per-host-cap", type=int, default=50)
    ap.add_argument("--workdir", default=None)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--hosts", type=int, default=97)
    ap.add_argument("--hot-pages", type=int, default=5_000)
    ap.add_argument("--cold-pages", type=int, default=500)
    ap.add_argument("--web-seed", default="submit-v1")
    ap.add_argument("--time-rounds", action="store_true",
                    help="report steady-state per-round wall time (seed "
                         "ingest untimed) for deployment-path scaling checks")
    args = ap.parse_args()

    # Import AFTER spark-submit has shipped the --py-files zip.
    from pyspark.sql import SparkSession

    from mongodb_postproc_spark.crawl.engine import CrawlEngine
    from mongodb_postproc_spark.datagen.web import CrawlConfig, WebConfig

    spark = (
        SparkSession.builder.appName("crawl-submit")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    wd = args.workdir or tempfile.mkdtemp(prefix="submit_crawl_")
    cfg = CrawlConfig(
        n_seeds=args.n_seeds,
        max_rounds=args.rounds,
        per_host_cap=args.per_host_cap,
        web=WebConfig(n_hosts=args.hosts, hot_pages=args.hot_pages,
                      cold_pages=args.cold_pages, seed=args.web_seed),
    )
    eng = CrawlEngine(spark, cfg, wd)
    if args.time_rounds:
        # steady-state per-round wall time through the SUBMITTED artifact —
        # the deployment-path cross-check of bench.py's in-process scaling
        # ladder (seed ingest untimed, same protocol as BASELINE.md).
        # engine.run()'s own reset/resume preamble: without --resume, a
        # reused workdir's engine tables and state are dropped BEFORE
        # init_crawl.
        import time

        state = eng._start(resume=args.resume)
        stats, timed = [], []
        while state["round_completed"] + 1 < cfg.max_rounds:
            t0 = time.monotonic()
            out = eng.run_round(state)
            dt = time.monotonic() - t0
            if out is None:
                break
            state, s = out
            stats.append(s)
            timed.append(
                {"round": s.round, "fetched": s.fetched,
                 "seconds": round(dt, 2),
                 "urls_per_sec": round(s.fetched / dt, 1)}
            )
        print(json.dumps({"workdir": wd, "rounds": timed}))
        spark.stop()
        return
    stats = eng.run(resume=args.resume)
    print(
        json.dumps(
            {
                "workdir": wd,
                "rounds": [
                    {
                        "round": s.round,
                        "fetched": s.fetched,
                        "new_urls": s.new_urls,
                        "frontier_after": s.frontier_after,
                        "seen_after": s.seen_after,
                    }
                    for s in stats
                ],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
