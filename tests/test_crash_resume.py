"""Crash-safety of the checkpoint protocol.

The commit order inside a round is: data snapshots first, `_state.json`
last (atomic rename). A crash mid-round therefore leaves ORPHAN snapshot
dirs — written data the state does not reference. Resuming must ignore
them and reproduce the exact same crawl as an uninterrupted run (the
engine's analog of the reference's sort+skip restart idiom,
/root/reference/fix_incorrect_structures.py:235)."""

import json
import os
import re
import shutil

import pytest

from mongodb_postproc_spark.crawl.engine import STATE_FORMAT, CrawlEngine
from mongodb_postproc_spark.crawl.simulator import simulate_crawl
from mongodb_postproc_spark.datagen.web import CrawlConfig, WebConfig

CFG = CrawlConfig(
    n_seeds=6,
    max_rounds=3,
    per_host_cap=4,
    web=WebConfig(n_hosts=6, hot_pages=80, cold_pages=16, seed="crash-v1"),
)


def _fetch_order(eng):
    return [
        (r["seq"], r["url_canon"], r["host"], r["round"]) for r in eng.fetch_log().collect()
    ]


def test_orphan_snapshots_from_crashed_round_are_ignored(spark, tmp_path):
    # run one full round, keep its state
    wd = str(tmp_path / "crashed")
    one_round = CrawlConfig(n_seeds=6, max_rounds=1, per_host_cap=4, web=CFG.web)
    CrawlEngine(spark, one_round, wd).run()
    with open(os.path.join(wd, "_state.json")) as f:
        state_after_r0 = json.load(f)

    # simulate a crash DURING round 1: round-1 data writes landed (copy the
    # frontier + seen snapshot dirs as higher-numbered orphans and bump the
    # manifests) but _state.json was never updated
    for table in ("frontier", "seen"):
        tdir = os.path.join(wd, table)
        mpath = os.path.join(tdir, "_manifest.json")
        with open(mpath) as f:
            manifest = json.load(f)
        last = manifest["snapshots"][-1]
        orphan_id = last["id"] + 1
        shutil.copytree(
            os.path.join(tdir, f"snap={last['id']}"), os.path.join(tdir, f"snap={orphan_id}")
        )
        manifest["snapshots"].append(
            {"id": orphan_id, "kind": "append", "members": last["members"] + [orphan_id]}
        )
        with open(mpath, "w") as f:
            json.dump(manifest, f)

    # state still points at the pre-crash snapshots
    with open(os.path.join(wd, "_state.json")) as f:
        assert json.load(f) == state_after_r0

    # resume with the full config: rounds 1-2 execute on the committed state
    eng = CrawlEngine(spark, CFG, wd)
    eng.run(resume=True)

    # uninterrupted reference run + sequential oracle agree with the resumed run
    wd2 = str(tmp_path / "clean")
    eng2 = CrawlEngine(spark, CFG, wd2)
    eng2.run()
    assert _fetch_order(eng) == _fetch_order(eng2) == simulate_crawl(CFG).fetch_order
    assert {r["url_canon"] for r in eng.seen_set().collect()} == {
        r["url_canon"] for r in eng2.seen_set().collect()
    }


def test_bare_run_on_partial_workdir_resumes(spark, tmp_path):
    """Consumer contract: constructing an engine over a half-run workdir and
    calling run() with no arguments continues the crawl — it must never
    re-init over committed state (which would append duplicate fetch-log
    rows to the pages table)."""
    wd = str(tmp_path / "partial")
    one_round = CrawlConfig(n_seeds=6, max_rounds=1, per_host_cap=4, web=CFG.web)
    CrawlEngine(spark, one_round, wd).run()
    eng = CrawlEngine(spark, CFG, wd)
    eng.run()
    assert _fetch_order(eng) == simulate_crawl(CFG).fetch_order


def test_forced_fresh_run_resets_dirty_workdir(spark, tmp_path):
    """run(resume=False) on a workdir holding a finished crawl drops the
    engine tables first: the result equals a one-shot run, with no
    duplicated seq values from a stale pages table."""
    wd = str(tmp_path / "dirty")
    CrawlEngine(spark, CFG, wd).run()
    eng = CrawlEngine(spark, CFG, wd)
    eng.run(resume=False)
    assert _fetch_order(eng) == simulate_crawl(CFG).fetch_order


def test_empty_crawl_projections_are_empty_not_errors(spark, tmp_path):
    """n_seeds=0 never creates a pages table; the read projections must
    return empty typed DataFrames rather than raise."""
    cfg0 = CrawlConfig(n_seeds=0, max_rounds=1, per_host_cap=1, web=CFG.web)
    eng = CrawlEngine(spark, cfg0, str(tmp_path / "empty"))
    eng.run()
    assert eng.fetch_log().count() == 0
    assert eng.images().count() == 0


def test_run_round_retry_in_process_reconciles(spark, tmp_path):
    """A caller that catches a mid-round failure and re-invokes
    run_round(state) IN-PROCESS (no run()/resume round-trip) must not stack
    the retry's appends on the failed attempt's orphans — run_round rolls
    back to the committed state first whenever a table tip has moved past
    the state's snapshot (r4 ADVICE item on the eager frontier delete)."""
    wd = str(tmp_path / "retry")
    one_round = CrawlConfig(n_seeds=6, max_rounds=1, per_host_cap=4, web=CFG.web)
    CrawlEngine(spark, one_round, wd).run()

    # inject orphan appends exactly as a failed round-1 attempt leaves them
    for table in ("frontier", "seen"):
        tdir = os.path.join(wd, table)
        mpath = os.path.join(tdir, "_manifest.json")
        with open(mpath) as f:
            manifest = json.load(f)
        last = manifest["snapshots"][-1]
        orphan_id = last["id"] + 1
        shutil.copytree(
            os.path.join(tdir, f"snap={last['id']}"), os.path.join(tdir, f"snap={orphan_id}")
        )
        manifest["snapshots"].append(
            {"id": orphan_id, "kind": "append", "members": last["members"] + [orphan_id]}
        )
        with open(mpath, "w") as f:
            json.dump(manifest, f)

    # the "retry": drive the remaining rounds through run_round directly
    eng = CrawlEngine(spark, CFG, wd)
    state = eng.load_state()
    while state["round_completed"] + 1 < CFG.max_rounds:
        out = eng.run_round(state)
        if out is None:
            break
        state, _ = out

    assert _fetch_order(eng) == simulate_crawl(CFG).fetch_order


def test_other_format_workdir_is_refused_until_forced_fresh(spark, tmp_path):
    """A _state.json without this engine's format stamp, or with another
    one, is never resumed or migrated: run() raises ValueError naming the
    way out, and run(resume=False) then crawls the same workdir afresh."""
    wd = str(tmp_path / "old_format")
    one_round = CrawlConfig(n_seeds=6, max_rounds=1, per_host_cap=4, web=CFG.web)
    CrawlEngine(spark, one_round, wd).run()
    sp = os.path.join(wd, "_state.json")
    with open(sp) as f:
        state = json.load(f)
    assert state["format"] == STATE_FORMAT

    # format 1 is the layout with the seen_state Bloom table; format 2
    # stores no seen bucket count
    for stamp in (None, 1, 2, STATE_FORMAT + 1):
        if stamp is None:
            state.pop("format")
        else:
            state["format"] = stamp
        with open(sp, "w") as f:
            json.dump(state, f)
        with pytest.raises(ValueError, match=re.escape("run(resume=False)")):
            CrawlEngine(spark, CFG, wd).run()

    eng = CrawlEngine(spark, CFG, wd)
    eng.run(resume=False)
    assert _fetch_order(eng) == simulate_crawl(CFG).fetch_order


def test_resume_with_other_bucket_count_keeps_the_stored_one(spark, tmp_path):
    """The seen bucket count is fixed when the crawl starts and stored in
    the state: an engine constructed with another n_buckets resumes on the
    stored count, so the probe reads the bucket dirs that hold each URL and
    the crawl stays exact."""
    wd = str(tmp_path / "rebucket")
    two_rounds = CrawlConfig(n_seeds=6, max_rounds=2, per_host_cap=4, web=CFG.web)
    CrawlEngine(spark, two_rounds, wd, n_buckets=4).run()
    cfg5 = CrawlConfig(n_seeds=6, max_rounds=5, per_host_cap=4, web=CFG.web)
    eng = CrawlEngine(spark, cfg5, wd, n_buckets=8)
    eng.run()
    sim = simulate_crawl(cfg5)
    assert _fetch_order(eng) == sim.fetch_order
    assert sorted(r["url_canon"] for r in eng.seen_set().collect()) == sorted(sim.seen)
    assert eng.load_state()["n_buckets"] == 4
