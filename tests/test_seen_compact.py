"""Seen-state bloom compaction: folding per-epoch rows must not change any
crawl output (the probe ORs them on read anyway) and must bound the state
table at one row per (bucket, geometry) regardless of round count."""

import os

import pandas as pd

from mongodb_postproc_spark.crawl.engine import CrawlEngine
from mongodb_postproc_spark.crawl.seen import Bloom, fold_bucket_state
from mongodb_postproc_spark.datagen.web import CrawlConfig, WebConfig


def test_fold_bucket_state_preserves_membership():
    shape = Bloom.sized_for(500, 0.01)
    rows = {"bucket": [], "epoch": [], "bloom_bytes": [], "n_items": []}
    all_urls = []
    for ep in range(5):
        b = Bloom(shape.n_bits, shape.n_hashes)
        urls = pd.Series([f"http://h{ep}.test/p/{i}" for i in range(100)])
        b.add(urls)
        all_urls.append(urls)
        rows["bucket"].append(3)
        rows["epoch"].append(ep)
        rows["bloom_bytes"].append(b.to_bytes())
        rows["n_items"].append(len(urls))
    folded = fold_bucket_state(pd.DataFrame(rows))
    assert len(folded) == 1  # one geometry -> one row
    assert folded["bucket"].iloc[0] == 3
    assert folded["epoch"].iloc[0] == 4  # max epoch
    assert folded["n_items"].iloc[0] == 500  # disjoint sums
    merged = Bloom.from_bytes(folded["bloom_bytes"].iloc[0])
    for urls in all_urls:
        assert merged.contains(urls).all()


def test_fold_bucket_state_mixed_geometries():
    """A config change across resumes leaves rows of two bloom shapes in one
    bucket; the fold keeps one row per shape (probe ORs across shapes)."""
    rows = {"bucket": [], "epoch": [], "bloom_bytes": [], "n_items": []}
    for ep, n in [(0, 200), (1, 200), (2, 2000)]:
        b = Bloom.sized_for(n, 0.01)
        b.add(pd.Series([f"http://e{ep}.test/{i}" for i in range(50)]))
        rows["bucket"].append(0)
        rows["epoch"].append(ep)
        rows["bloom_bytes"].append(b.to_bytes())
        rows["n_items"].append(50)
    folded = fold_bucket_state(pd.DataFrame(rows))
    assert len(folded) == 2
    assert folded["n_items"].sum() == 150


def test_compacted_crawl_identical_and_bounded(spark, tmp_path, monkeypatch):
    """Crawl with aggressive compaction (fold every 2 epochs) must produce
    byte-identical fetch order and seen set vs the uncompacted run, and the
    final seen_state must hold at most one row per bucket."""
    cfg = CrawlConfig(
        n_seeds=8, max_rounds=5, per_host_cap=3,
        web=WebConfig(n_hosts=6, hot_pages=40, cold_pages=10, seed="compact-v1"),
    )
    n_buckets = 4

    wd_plain = str(tmp_path / "plain")
    eng_plain = CrawlEngine(spark, cfg, wd_plain, n_buckets=n_buckets)
    eng_plain.run()
    out_plain = (
        [(r["seq"], r["url_canon"]) for r in eng_plain.fetch_log().collect()],
        {r["url_canon"] for r in eng_plain.seen_set().collect()},
    )

    monkeypatch.setattr(CrawlEngine, "SEEN_COMPACT_EPOCHS", 2)
    wd_c = str(tmp_path / "compacted")
    eng_c = CrawlEngine(spark, cfg, wd_c, n_buckets=n_buckets)
    eng_c.run()
    out_c = (
        [(r["seq"], r["url_canon"]) for r in eng_c.fetch_log().collect()],
        {r["url_canon"] for r in eng_c.seen_set().collect()},
    )

    assert out_c == out_plain

    # compaction ran (threshold 2 over 5 rounds) and bounded the state:
    # after the last fold at most SEEN_COMPACT_EPOCHS-1 epoch rows per
    # bucket may follow; with threshold 2 and a fold on the final round's
    # append cadence, the table must be well under one-row-per-epoch.
    state_rows = eng_c.catalog.read("seen_state", spark).collect()
    per_bucket: dict = {}
    for r in state_rows:
        per_bucket[r["bucket"]] = per_bucket.get(r["bucket"], 0) + 1
    assert max(per_bucket.values()) <= 2  # folded row + at most 1 new epoch
    n_plain = len(eng_plain.catalog.read("seen_state", spark).collect())
    assert len(state_rows) < n_plain

    # a compacted checkpoint must resume: extend the crawl by one round and
    # re-run — the engine picks up from _state.json and stays exact.
    cfg6 = CrawlConfig(
        n_seeds=8, max_rounds=6, per_host_cap=3,
        web=WebConfig(n_hosts=6, hot_pages=40, cold_pages=10, seed="compact-v1"),
    )
    eng_plain6 = CrawlEngine(spark, cfg6, str(tmp_path / "plain6"), n_buckets=n_buckets)
    eng_plain6.run()
    eng_resume = CrawlEngine(spark, cfg6, wd_c, n_buckets=n_buckets)
    eng_resume.run(resume=True)
    assert [
        (r["seq"], r["url_canon"]) for r in eng_resume.fetch_log().collect()
    ] == [(r["seq"], r["url_canon"]) for r in eng_plain6.fetch_log().collect()]
