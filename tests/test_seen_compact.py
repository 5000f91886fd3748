"""Seen-set compaction: rewriting `seen` to one file per bucket dir must not
change any crawl output (the rows are unchanged), must bound each bucket
at one file right after a compaction regardless of round count, and must
leave no worker-side slice of a superseded file in the probe's cache."""

import os
import shutil

import numpy as np

from mongodb_postproc_spark.crawl import seen as seen_mod
from mongodb_postproc_spark.crawl.engine import CrawlEngine
from mongodb_postproc_spark.crawl.seen import _parquet_files, load_bucket_seen_hashes
from mongodb_postproc_spark.datagen.web import CrawlConfig, WebConfig

WEB = WebConfig(n_hosts=6, hot_pages=40, cold_pages=10, seed="compact-v1")
N_BUCKETS = 4


def _bucket_files(eng, bucket):
    return [
        f for d in eng.catalog.member_dirs("seen")
        for f in _parquet_files(os.path.join(d, f"__pdir={bucket}"))
    ]


def test_compacted_crawl_identical_and_bounded(spark, tmp_path, monkeypatch):
    """Crawl with aggressive compaction (every 2 epochs) must produce
    byte-identical fetch order and seen set vs the uncompacted run; right
    after a compaction `seen` is one snapshot with one file per bucket dir;
    and a resume from the compacted checkpoint stays exact."""
    cfg = CrawlConfig(n_seeds=8, max_rounds=5, per_host_cap=3, web=WEB)

    wd_plain = str(tmp_path / "plain")
    eng_plain = CrawlEngine(spark, cfg, wd_plain, n_buckets=N_BUCKETS)
    eng_plain.run()
    out_plain = (
        [(r["seq"], r["url_canon"]) for r in eng_plain.fetch_log().collect()],
        sorted(r["url_canon"] for r in eng_plain.seen_set().collect()),
    )

    monkeypatch.setattr(CrawlEngine, "SEEN_COMPACT_EPOCHS", 2)
    wd_c = str(tmp_path / "compacted")
    eng_c = CrawlEngine(spark, cfg, wd_c, n_buckets=N_BUCKETS)
    eng_c.run()
    out_c = (
        [(r["seq"], r["url_canon"]) for r in eng_c.fetch_log().collect()],
        sorted(r["url_canon"] for r in eng_c.seen_set().collect()),
    )

    assert out_c == out_plain

    # init counts as epoch 1, so with threshold 2 the compaction runs in
    # rounds 0, 2 and 4: the final state is a fresh compaction
    assert eng_c.load_state()["seen_epochs"] == 0
    tip = eng_c.catalog.snapshots("seen")[-1]
    assert tip["kind"] == "replace" and len(tip["members"]) == 1
    for b in range(N_BUCKETS):
        assert len(_bucket_files(eng_c, b)) == 1, b
    assert len(eng_plain.catalog.member_dirs("seen")) == 1 + cfg.max_rounds

    # a compacted checkpoint must resume: extend the crawl by one round and
    # re-run — the engine picks up from _state.json and stays exact.
    cfg6 = CrawlConfig(n_seeds=8, max_rounds=6, per_host_cap=3, web=WEB)
    eng_plain6 = CrawlEngine(spark, cfg6, str(tmp_path / "plain6"), n_buckets=N_BUCKETS)
    eng_plain6.run()
    eng_resume = CrawlEngine(spark, cfg6, wd_c, n_buckets=N_BUCKETS)
    eng_resume.run(resume=True)
    assert [
        (r["seq"], r["url_canon"]) for r in eng_resume.fetch_log().collect()
    ] == [(r["seq"], r["url_canon"]) for r in eng_plain6.fetch_log().collect()]


def test_slice_cache_drops_superseded_files(spark, tmp_path):
    """The probe's per-worker slice cache is exercised driver-side: after
    compact_seen_state replaces a bucket's files, loading the bucket again
    leaves no cached entry naming a file that is no longer in `seen`, and
    the reloaded slice holds the same fingerprints."""
    cfg = CrawlConfig(n_seeds=8, max_rounds=3, per_host_cap=3, web=WEB)
    eng = CrawlEngine(spark, cfg, str(tmp_path / "cache"), n_buckets=N_BUCKETS)
    eng.run()
    before = {
        b: load_bucket_seen_hashes(eng.catalog.member_dirs("seen"), b)
        for b in range(N_BUCKETS)
    }
    old_files = {f for b in range(N_BUCKETS) for f in _bucket_files(eng, b)}
    assert any(len(_bucket_files(eng, b)) > 1 for b in range(N_BUCKETS))

    assert eng.compact_seen_state()
    live = {f for b in range(N_BUCKETS) for f in _bucket_files(eng, b)}
    assert live.isdisjoint(old_files)
    for b in range(N_BUCKETS):
        after = load_bucket_seen_hashes(eng.catalog.member_dirs("seen"), b)
        assert np.array_equal(after[0], before[b][0])
        assert np.array_equal(after[1], before[b][1])
    cached = {
        f for b in range(N_BUCKETS) for f, _mtime in seen_mod._SEENHASH_CACHE[b][0]
    }
    assert cached and cached <= live, cached - live


def test_fresh_engine_sizes_buckets_to_shuffle_partitions(spark, tmp_path):
    """With no n_buckets, a fresh crawl writes one seen bucket dir per
    shuffle partition of the dedup aggregate, and stores the count."""
    cfg = CrawlConfig(n_seeds=200, max_rounds=1, per_host_cap=3, web=WEB)
    eng = CrawlEngine(spark, cfg, str(tmp_path / "derived"))
    eng.init_crawl()
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    (snap_dir,) = eng.catalog.member_dirs("seen")
    assert sorted(d for d in os.listdir(snap_dir) if d.startswith("__pdir=")) == sorted(
        f"__pdir={b}" for b in range(n_part)
    )
    assert eng.load_state()["n_buckets"] == n_part


def test_compaction_expires_superseded_dirs(spark, tmp_path, monkeypatch):
    """After each round's state commit, every engine table's dirs that the
    pinned snapshot no longer references are deleted: after a compacted
    crawl `seen/` holds only its live dirs, a dir left by a crash between
    the manifest write and the removal goes with the next round, and the
    resumed crawl stays exact."""
    from mongodb_postproc_spark.crawl.simulator import simulate_crawl

    monkeypatch.setattr(CrawlEngine, "SEEN_COMPACT_EPOCHS", 2)
    wd = tmp_path / "expire"
    cfg = CrawlConfig(n_seeds=8, max_rounds=3, per_host_cap=3, web=WEB)
    eng = CrawlEngine(spark, cfg, str(wd), n_buckets=N_BUCKETS)
    eng.run()

    def on_disk(t):
        return {int(d[5:]) for d in os.listdir(wd / t) if d.startswith("snap=")}

    def live(t):
        tip = eng.catalog.snapshots(t)[-1]
        return set(tip["members"]) | set(tip.get("delete_members", []))

    # compactions ran in rounds 0 and 2: seen is one replace snapshot
    assert on_disk("seen") == live("seen") == {eng.load_state()["snapshots"]["seen"]}
    for t in eng.catalog.tables():
        assert on_disk(t) == live(t), t

    # a crash after the manifest write left an expired dir behind
    shutil.copytree(wd / "seen" / f"snap={min(live('seen'))}", wd / "seen" / "snap=0")
    cfg5 = CrawlConfig(n_seeds=8, max_rounds=5, per_host_cap=3, web=WEB)
    eng = CrawlEngine(spark, cfg5, str(wd), n_buckets=N_BUCKETS)
    eng.run()
    assert on_disk("seen") == live("seen")
    sim = simulate_crawl(cfg5)
    assert [
        (r["seq"], r["url_canon"], r["host"], r["round"]) for r in eng.fetch_log().collect()
    ] == sim.fetch_order
    assert sorted(r["url_canon"] for r in eng.seen_set().collect()) == sorted(sim.seen)
