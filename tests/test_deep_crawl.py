"""Merge-on-read maintenance at depth: a long crawl (34 rounds) must keep
both state tables bounded by the compaction policies — `seen`'s snapshot
dirs stay O(1) and the frontier's delete files fold on the ~2x policy — and a
resume that lands AFTER several compactions must still reproduce the exact
uninterrupted fetch order (compaction is maintenance, never semantics).

This is the amortized-cost story the 100-TB design depends on: without the
compactions, round N pays O(N) seen files per probe and O(N) delete
branches per frontier scan; with them both are O(1) per round.
"""

import shutil

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


# the round the module's crawl is interrupted at: several seen compactions
# and frontier folds in
RESUME_AT = 20


@pytest.fixture(scope="module")
def deep_run(spark, tmp_path_factory):
    """The 34-round crawl, run as RESUME_AT rounds, then resumed from disk
    to the end. A copy of its workdir at RESUME_AT is kept for
    test_resume_after_compactions_is_exact."""
    base = tmp_path_factory.mktemp("deep")
    wd = base / "wd"
    stats = _mk(spark, wd, max_rounds=RESUME_AT).run()
    shutil.copytree(wd, base / "at_resume")
    eng = _mk(spark, wd)
    stats += eng.run()
    return eng, stats, base / "at_resume"


def test_deep_crawl_runs_all_rounds(deep_run):
    _, stats, _ = deep_run
    assert len(stats) == CFG.max_rounds


def test_deep_crawl_matches_simulator(deep_run):
    eng, _, _ = deep_run
    got = [(r["seq"], r["url_canon"]) for r in eng.fetch_log().collect()]
    sim = simulate_crawl(eng.cfg)
    assert got == [(t[0], t[1]) for t in sim.fetch_order]
    assert {r["url_canon"] for r in eng.seen_set().collect()} == sim.seen


def test_seen_member_dirs_stay_bounded(deep_run):
    """34 rounds append 34+1 snapshots to `seen`; the compaction must keep
    the live table at O(1) snapshot dirs — not O(rounds)."""
    eng, _, _ = deep_run
    n_dirs = len(eng.catalog.member_dirs("seen"))
    assert n_dirs <= eng.SEEN_COMPACT_EPOCHS + 1, n_dirs


def test_frontier_deletes_never_dominate_growing_crawl(deep_run):
    """On a growing frontier the 2x policy correctly never fires (deletes
    stay small next to live rows — folding would be wasted rewrites), but
    the delete-member list still exists and stays one file per round, the
    O(delta) write-side contract."""
    eng, _, _ = deep_run
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


def test_resume_after_compactions_is_exact(spark, deep_run):
    """Resume a copy of the crawl's workdir taken at round RESUME_AT
    (several seen compactions and frontier folds in) to 34: the fetch log
    must equal the simulator's, as the crawl that was continued in place
    does."""
    _, _, at_resume = deep_run
    eng = _mk(spark, at_resume)
    stats = eng.run()
    assert len(stats) == CFG.max_rounds - RESUME_AT
    got = [(r["seq"], r["url_canon"]) for r in eng.fetch_log().collect()]
    assert got == [(t[0], t[1]) for t in simulate_crawl(eng.cfg).fetch_order]
