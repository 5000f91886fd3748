"""The oracle gate: digests, comparison, and one tiny crawl checked against
the simulator end to end."""

import gate
import pandas as pd


def test_fetch_log_digest_is_order_sensitive_and_seen_digest_is_not():
    rows = [(0, "http://a/", "a", 0), (1, "http://b/", "b", 0)]
    assert gate.fetch_log_digest(rows) != gate.fetch_log_digest(rows[::-1])
    assert gate.set_digest(["x", "y"]) == gate.set_digest(["y", "x"])
    assert gate.failed_digest([("u", 410), ("v", 503)]) == gate.failed_digest(
        [("v", 503), ("u", 410)]
    )


def test_compare_reports_each_round_and_digest():
    exp = gate.summarize([{"round": 0, "fetched": 2}], [(0, "u", "h", 0)], ["u"], [])
    assert all(ok for _, ok in gate.compare(exp, dict(exp)))
    got = dict(exp, rounds=[{"round": 0, "fetched": 3}], seen=gate.set_digest(["v"]))
    failed = {c for c, ok in gate.compare(exp, got) if not ok}
    assert failed == {"round0", "seen"}
    short = dict(exp, rounds=[])
    assert {c for c, ok in gate.compare(exp, short) if not ok} == {"round0"}


def test_cached_oracle_reuses_the_cache(tmp_path, monkeypatch):
    calls = []
    monkeypatch.setattr(gate, "oracle_summary", lambda cfg: calls.append(cfg) or {"k": 1})
    from mongodb_postproc_spark.datagen.web import CrawlConfig

    cfg = CrawlConfig(n_seeds=3)
    assert gate.cached_oracle(cfg, str(tmp_path), "src1") == {"k": 1}
    assert gate.cached_oracle(cfg, str(tmp_path), "src1") == {"k": 1}
    assert len(calls) == 1
    gate.cached_oracle(cfg, str(tmp_path), "src2")  # source changed: recompute
    assert len(calls) == 2


def test_forked_oracle_fills_the_cache(tmp_path):
    import run
    from mongodb_postproc_spark.datagen.web import CrawlConfig, WebConfig

    cfg = CrawlConfig(n_seeds=8, max_rounds=1, per_host_cap=2,
                      web=WebConfig(n_hosts=4, hot_pages=20, cold_pages=8, seed="perfbench-3"))
    proc = run.start_oracle(cfg, str(tmp_path), "src")
    proc.join(timeout=60)
    assert proc.exitcode == 0
    assert len(list(tmp_path.glob("*.json"))) == 1
    assert gate.cached_oracle(cfg, str(tmp_path), "src") == gate.oracle_summary(cfg)


def test_tiny_crawl_matches_oracle_and_mutation_is_rejected(spark, tmp_path):
    import run
    from mongodb_postproc_spark.crawl.engine import CrawlEngine
    from mongodb_postproc_spark.datagen.web import CrawlConfig, WebConfig

    cfg = CrawlConfig(
        n_seeds=12, max_rounds=2, per_host_cap=3,
        web=WebConfig(n_hosts=6, hot_pages=40, cold_pages=12, seed="perfbench-7",
                      status_mix=True, sitemaps=True),
    )
    eng = CrawlEngine(spark, cfg, str(tmp_path / "crawl"), n_buckets=4)
    stats = eng.run()
    assert len(stats) == 2
    _times, rows = run.readback(eng)
    expected = gate.oracle_summary(cfg)
    assert all(ok for _, ok in gate.compare(expected, run.crawl_summary(stats, rows)))

    fl = rows["fetch_log"]
    assert len(fl) >= 2
    swapped = fl.copy()
    swapped.loc[[0, 1], ["url_canon", "host"]] = fl.loc[[1, 0], ["url_canon", "host"]].to_numpy()
    mutated = dict(rows, fetch_log=swapped)
    bad = {c for c, ok in gate.compare(expected, run.crawl_summary(stats, mutated)) if not ok}
    assert bad == {"fetch_log"}

    fewer = dict(rows, seen_set=pd.DataFrame({"url_canon": rows["seen_set"]["url_canon"][1:]}))
    bad = {c for c, ok in gate.compare(expected, run.crawl_summary(stats, fewer)) if not ok}
    assert bad == {"seen"}
    assert run.images_violations(eng) == 0
