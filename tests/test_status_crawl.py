"""HTTP-status crawl semantics: redirects (301), transient failures with a
bounded retry/backoff budget (503), and a permanent-failure dead-letter
(410) — the Spark engine must reproduce the sequential oracle's fetch
ordering, seen set, and failed set exactly under the status mix.

The retry path also exercises the frontier's composite (url, attempts)
equality-delete key: a retried URL is re-appended in the SAME round that
deleted its scheduled row, which the old url-only global-scope delete would
have silently killed. (Reference analog: the fixed retry loop around flaky
page fetches, /root/reference/findMissingPages.py:26-29.)
"""

import pytest

from mongodb_postproc_spark.crawl.engine import CrawlEngine, validate_images
from mongodb_postproc_spark.crawl.simulator import simulate_crawl
from mongodb_postproc_spark.datagen.web import CrawlConfig, SyntheticWeb, WebConfig

CFG = CrawlConfig(
    n_seeds=8,
    max_rounds=5,
    per_host_cap=5,
    max_attempts=2,
    web=WebConfig(
        n_hosts=6, hot_pages=90, cold_pages=20, seed="statusfix-v1", status_mix=True
    ),
)


@pytest.fixture(scope="module")
def oracle():
    return simulate_crawl(CFG)


@pytest.fixture(scope="module")
def engine_run(spark, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("crawl_status"))
    eng = CrawlEngine(spark, CFG, wd)
    stats = eng.run()
    return eng, stats


def test_fixture_exercises_every_status_class(oracle):
    # the mix parameters must actually produce redirects, retries, retry
    # successes, and both dead-letter causes — otherwise the equality
    # assertions below are vacuous
    assert sum(m["redirects"] for m in oracle.metrics) > 0
    assert sum(m["retried"] for m in oracle.metrics) > 0
    assert sum(m["failed"] for m in oracle.metrics) > 0
    assert any(s == 410 for s in oracle.failed.values())
    assert any(s == 503 for s in oracle.failed.values())
    # at least one URL was fetched more than once (a retry got its slot)
    urls = [u for _, u, _, _ in oracle.fetch_order]
    assert len(urls) > len(set(urls))
    # and at least one retried URL eventually succeeded (multi-fetch URL
    # absent from the failed set)
    multi = {u for u in urls if urls.count(u) > 1}
    assert multi - set(oracle.failed)


def test_fetch_order_exact_match(oracle, engine_run):
    eng, _ = engine_run
    got = [
        (r["seq"], r["url_canon"], r["host"], r["round"])
        for r in eng.fetch_log().collect()
    ]
    assert got == oracle.fetch_order


def test_seen_set_exact_match(oracle, engine_run):
    eng, _ = engine_run
    got = {r["url_canon"] for r in eng.seen_set().collect()}
    assert got == oracle.seen


def test_failed_set_exact_match(oracle, engine_run):
    eng, _ = engine_run
    got = {r["url_canon"]: r["status"] for r in eng.failed_set().collect()}
    assert got == oracle.failed


def test_dead_letter_tries_respect_budget(oracle, engine_run):
    eng, _ = engine_run
    for r in eng.failed_set().collect():
        if r["status"] == 503:
            assert r["tries"] == CFG.max_attempts
        else:  # 410: permanent, never retried
            assert r["tries"] == 1


def test_round_metrics_match(oracle, engine_run):
    _, stats = engine_run
    assert len(stats) == len(oracle.metrics)
    for s, m in zip(stats, oracle.metrics):
        got = (s.fetched, s.links_extracted, s.new_urls, s.frontier_after,
               s.seen_after, s.redirects, s.retried, s.failed)
        want = (m["fetched"], m["links_extracted"], m["new_urls"],
                m["frontier_after"], m["seen_after"], m["redirects"],
                m["retried"], m["failed"])
        assert got == want, (s, m)


def test_images_only_for_200_fetches(oracle, engine_run):
    eng, _ = engine_run
    web = SyntheticWeb(CFG.web)
    # reconstruct per-attempt statuses oracle-side: count occurrences in
    # fetch order (k-th occurrence of a URL is its attempt k)
    seen_times: dict[str, int] = {}
    n_ok = 0
    for _, u, _, _ in oracle.fetch_order:
        a = seen_times.get(u, 0)
        seen_times[u] = a + 1
        if web.status_for(u, a) == 200:
            n_ok += 1
    assert eng.images().count() == n_ok


def test_image_invariants_hold_under_status_mix(engine_run):
    eng, _ = engine_run
    assert validate_images(eng.images()).collect() == []


def test_resume_mid_crawl_matches_oracle(oracle, spark, tmp_path_factory):
    """Kill after 2 rounds, reopen, resume: same fetch order / seen /
    failed as the uninterrupted run — retries and the dead-letter survive
    the checkpoint boundary."""
    wd = str(tmp_path_factory.mktemp("crawl_status_resume"))
    from dataclasses import replace

    eng1 = CrawlEngine(spark, replace(CFG, max_rounds=2), wd)
    eng1.run()
    eng2 = CrawlEngine(spark, CFG, wd)
    eng2.run(resume=True)
    got = [
        (r["seq"], r["url_canon"], r["host"], r["round"])
        for r in eng2.fetch_log().collect()
    ]
    assert got == oracle.fetch_order
    assert {r["url_canon"] for r in eng2.seen_set().collect()} == oracle.seen
    assert {
        r["url_canon"]: r["status"] for r in eng2.failed_set().collect()
    } == oracle.failed


def test_first_dead_letter_round_creates_failed_table(spark, tmp_path):
    """Init creates no `failed` table, so the first round that dead-letters
    must create it. Iceberg's writeTo().append() refuses a missing table;
    a catalog whose append does the same must still land every failed row
    (round 1 of this config is the first to dead-letter, round 2 appends)."""
    from dataclasses import replace

    cfg = replace(CFG, max_rounds=3)
    want = simulate_crawl(cfg).failed
    assert want
    eng = CrawlEngine(spark, cfg, str(tmp_path / "wd"))
    real_append = eng.catalog.append

    def strict_append(name, *a, **kw):
        if not eng.catalog.exists(name):
            raise RuntimeError(f"append to missing table {name!r}")
        return real_append(name, *a, **kw)

    eng.catalog.append = strict_append
    eng.run()
    assert {r["url_canon"]: r["status"] for r in eng.failed_set().collect()} == want
