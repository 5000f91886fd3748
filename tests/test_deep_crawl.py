"""Merge-on-read maintenance at depth: a long crawl (34 rounds) must keep
both state tables bounded by the compaction policies — seen_state rows stay
O(n_buckets) and the frontier's delete files fold on the ~2x policy — and a
resume that lands AFTER several compactions must still reproduce the exact
uninterrupted fetch order (compaction is maintenance, never semantics).

This is the amortized-cost story the 100-TB design depends on: without the
folds, round N pays O(N) state files per probe and O(N) delete branches per
frontier scan; with them both are O(1) per round.
"""

import pytest

from mongodb_postproc_spark.crawl.engine import CrawlEngine
from mongodb_postproc_spark.crawl.simulator import simulate_crawl
from mongodb_postproc_spark.datagen.web import CrawlConfig, WebConfig

WEB = WebConfig(n_hosts=6, hot_pages=400, cold_pages=120, seed="deep-v1")
CFG = CrawlConfig(n_seeds=8, max_rounds=34, per_host_cap=2, web=WEB)
N_BUCKETS = 4


def _mk(spark, wd, max_rounds=CFG.max_rounds):
    cfg = CrawlConfig(
        n_seeds=CFG.n_seeds, max_rounds=max_rounds,
        per_host_cap=CFG.per_host_cap, web=WEB,
    )
    eng = CrawlEngine(spark, cfg, str(wd), n_buckets=N_BUCKETS)
    eng.FRONTIER_COMPACT_MIN = 20  # exercise the fold policy at toy scale
    return eng


@pytest.fixture(scope="module")
def deep_run(spark, tmp_path_factory):
    eng = _mk(spark, tmp_path_factory.mktemp("deep") / "wd")
    stats = eng.run()
    return eng, stats


def test_deep_crawl_runs_all_rounds(deep_run):
    _, stats = deep_run
    assert len(stats) == CFG.max_rounds


def test_deep_crawl_matches_simulator(deep_run):
    eng, _ = deep_run
    got = [(r["seq"], r["url_canon"]) for r in eng.fetch_log().collect()]
    sim = simulate_crawl(eng.cfg)
    assert got == [(t[0], t[1]) for t in sim.fetch_order]
    assert {r["url_canon"] for r in eng.seen_set().collect()} == sim.seen


def test_seen_state_rows_stay_bounded(deep_run):
    """34 rounds append up to 34+1 epoch rows per bucket; the epoch fold
    must keep the live table at O(n_buckets) rows and O(1) snapshot dirs
    per bucket — not O(rounds)."""
    eng, _ = deep_run
    n_rows = eng.catalog.read("seen_state", eng.spark).count()
    assert n_rows <= N_BUCKETS * (eng.SEEN_COMPACT_EPOCHS + 1), n_rows
    n_dirs = len(eng.catalog.member_dirs("seen_state"))
    assert n_dirs <= eng.SEEN_COMPACT_EPOCHS + 1, n_dirs


def test_frontier_deletes_never_dominate_growing_crawl(deep_run):
    """On a growing frontier the 2x policy correctly never fires (deletes
    stay small next to live rows — folding would be wasted rewrites), but
    the delete-member list still exists and stays one file per round, the
    O(delta) write-side contract."""
    eng, _ = deep_run
    entry = eng.catalog.snapshots("frontier")[-1]
    assert len(entry.get("delete_members", [])) <= CFG.max_rounds


def test_frontier_deletes_fold_on_draining_crawl(spark, tmp_path):
    """A draining crawl (politeness cap off, page space finite) is where
    delete files pile up past 2x the shrinking live set: the fold must fire
    (a replace snapshot past the initial CTAS), the delete list must reset,
    and the crawl output must still match the simulator exactly —
    compaction is maintenance, never semantics."""
    web = WebConfig(n_hosts=4, hot_pages=60, cold_pages=30, seed="deep-drain-v1")
    cfg = CrawlConfig(n_seeds=40, max_rounds=12, per_host_cap=10**9, web=web)
    eng = CrawlEngine(spark, cfg, str(tmp_path / "drain"), n_buckets=N_BUCKETS)
    eng.FRONTIER_COMPACT_MIN = 20
    eng.run()
    snaps = eng.catalog.snapshots("frontier")
    assert any(s["kind"] == "replace" and s["id"] > 0 for s in snaps), \
        [s["kind"] for s in snaps]
    assert len(snaps[-1].get("delete_members", [])) < cfg.max_rounds / 2
    sim = simulate_crawl(cfg)
    got = [(r["seq"], r["url_canon"]) for r in eng.fetch_log().collect()]
    assert got == [(t[0], t[1]) for t in sim.fetch_order]


def test_resume_after_compactions_is_exact(spark, tmp_path, deep_run):
    """Interrupt at round 20 (several seen_state folds and frontier
    compactions in), resume to 34: fetch log must equal the uninterrupted
    34-round run byte for byte."""
    eng_full, _ = deep_run
    wd = tmp_path / "resume_wd"
    _mk(spark, wd, max_rounds=20).run()
    eng = _mk(spark, wd)
    eng.run()
    want = [(r["seq"], r["url_canon"]) for r in eng_full.fetch_log().collect()]
    got = [(r["seq"], r["url_canon"]) for r in eng.fetch_log().collect()]
    assert got == want
