"""Self-time, phase-partition and Spark-attribution derivation on synthetic
spans: no Spark session needed."""

import cProfile
import importlib
import sys
import threading

import pytest

import tracing
from tracing import Span


def test_union_covered_and_self_time_with_overlaps():
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing.union_length([(1, 1), (3, 2)]) == 0  # empty and inverted
    assert tracing.covered((1, 5), [(0, 2), (1.5, 3), (4, 9)]) == 3
    # overlapping children are counted once
    assert tracing.self_time((0, 10), [(1, 4), (2, 5), (8, 12)]) == pytest.approx(4)


def test_partition_error_flags_gap_overlap_and_misorder():
    assert tracing.partition_error((0, 10), [(0, 4), (4, 10)]) == (0, 0)
    assert tracing.partition_error((0, 10), [(0, 4), (5, 10)]) == (1, 0)
    assert tracing.partition_error((0, 10), [(0, 6), (4, 10)]) == (0, 2)
    # a misordered boundary: (6, 4) claims time backwards
    assert tracing.partition_error((0, 10), [(0, 6), (6, 4), (4, 10)])[1] > 0


def _sp(sid, name, start, end, thread=1, parent=1, **attrs):
    return Span(name, start, end, thread, parent, sid, attrs)


def _round_spans():
    """One round from 0 to 10 s: reads on the round thread, the frontier
    delete on a side thread beside the pages write, four overlapping
    commit threads, then a fold with a nested rewrite."""
    rnd = _sp(1, "engine.run_round", 0.0, 10.0, parent=None)
    spans = [
        _sp(2, "tables.read", 0.1, 0.2, table="frontier"),
        _sp(3, "tables.append_deletes", 2.9, 4.0, thread=2, table="frontier"),
        _sp(4, "tables.append", 3.0, 5.0, table="pages"),
        _sp(5, "tables.read_snapshot_dir", 5.0, 5.1, table="pages"),
        _sp(6, "tables.append", 7.0, 8.5, thread=3, table="seen"),
        _sp(7, "tables.append", 7.1, 7.6, thread=4, table="blocked"),
        _sp(8, "tables.append", 7.2, 8.0, thread=5, table="frontier"),
        _sp(9, "tables.append", 7.05, 9.0, thread=6, table="seen_state"),
        _sp(10, "engine.compact_seen_state", 9.2, 9.8),
        _sp(11, "tables.create_or_replace", 9.3, 9.7, parent=10, table="seen_state"),
        rnd,
    ]
    return rnd, spans


def test_round_phases_tile_the_round_and_self_times():
    rnd, spans = _round_spans()
    out = tracing.derive_round_metrics([rnd], spans)
    m = out["metrics"]
    # schedule self time excludes the read on the round thread but not the
    # side-thread delete that overlaps it
    assert m["engine.schedule_s"] == pytest.approx(3.0 - 0.1)
    assert m["tables.pages_write_s"] == pytest.approx(2.0)
    assert m["engine.extract_dedup_probe_s"] == pytest.approx(2.0 - 0.1)
    assert m["tables.commit_s"] == pytest.approx(2.0)  # 7.0 .. 9.0 wall
    assert m["engine.compact_seen_state_s"] == pytest.approx(0.6)
    assert m["engine.bookkeeping_s"] == pytest.approx(0.2 + 0.2)
    assert m["tables.append_s.seen"] == pytest.approx(1.5)
    assert m["tables.append_s.seen_state"] == pytest.approx(1.95)
    assert m["tables.append_s.failed"] == 0
    assert m["tables.append_deletes_s"] == pytest.approx(1.1)
    phase_total = sum(e - s for ivs in out["windows"].values() for s, e in ivs)
    assert phase_total == pytest.approx(rnd.duration)


def test_misordered_commit_is_rejected():
    rnd, spans = _round_spans()
    # a state append that starts inside the pages write breaks the phase order
    spans.append(_sp(12, "tables.append", 4.0, 4.5, thread=7, table="failed"))
    with pytest.raises(ValueError, match="do not tile"):
        tracing.derive_round_metrics([rnd], spans)


def test_tracer_parents_side_thread_spans_to_the_round():
    tr = tracing.Tracer()
    barrier = threading.Barrier(3, timeout=10)

    def commit(table):
        with tr.span("tables.append", table=table):
            barrier.wait()

    with tr.span("engine.run_round") as rnd:
        threads = [threading.Thread(target=commit, args=(t,)) for t in ("seen", "blocked")]
        for t in threads:
            t.start()
        barrier.wait()
        for t in threads:
            t.join(timeout=10)
            assert not t.is_alive()
        with tr.span("tables.read", table="frontier") as child:
            pass
    appends = [s for s in tr.spans if s.name == "tables.append"]
    assert {s.parent for s in appends} == {rnd.sid}
    assert len({s.thread for s in appends}) == 2
    # the two commit spans overlap in time
    a, b = appends
    assert max(a.start, b.start) < min(a.end, b.end)
    assert child.parent == rnd.sid and child.thread == rnd.thread


def test_wrap_methods_records_table_and_returns_result():
    class Catalog:
        def append(self, name, df):
            return f"{name}:{df}"

    tr = tracing.Tracer()
    cat = Catalog()
    tracing.wrap_methods(tr, cat, "tables", ("append",), table_arg=True)
    assert cat.append("seen", 3) == "seen:3"
    (sp,) = tr.spans
    assert sp.name == "tables.append" and sp.attrs == {"table": "seen"}


def test_udf_seconds_splits_synthetic_web_out_of_fetch(tmp_path, monkeypatch):
    pkg = tmp_path / "prof_pkg"
    pkg.mkdir()
    (pkg / "images.py").write_text(
        "def make_images(n):\n    return [sum(range(2000)) for _ in range(n)]\n"
    )
    (pkg / "engine.py").write_text(
        "from images import make_images\n"
        "def fetch(batches):\n"
        "    for b in batches:\n"
        "        s = sum(range(5000))\n"
        "        yield make_images(b), s\n"
    )
    monkeypatch.syspath_prepend(str(pkg))
    engine = importlib.import_module("engine")
    prof = cProfile.Profile()
    prof.enable()
    list(engine.fetch([50, 50, 50]))
    prof.disable()
    path = tmp_path / "udf_1_perf.pstats"
    prof.dump_stats(str(path))
    sys.modules.pop("engine", None)
    sys.modules.pop("images", None)
    out = tracing.udf_seconds(tracing.load_profiles(str(tmp_path)))
    assert out["udf.fetch_py_s"] > 0
    assert 0 < out["udf.fetch_synthweb_py_s"] < out["udf.fetch_py_s"]
    assert out["udf.probe_py_s"] == 0


def test_spark_phase_metrics_attribute_tasks_by_overlap():
    windows = {p: [] for p in tracing.PHASES}
    windows["schedule"] = [(0.0, 2.0)]
    windows["pages_write"] = [(2.0, 4.0)]
    jobs = [{"id": 0, "t": 0.5}, {"id": 1, "t": 2.5}, {"id": 2, "t": 9.0}]
    tasks = [
        # half in schedule, half in pages_write
        {"start": 1.0, "end": 3.0, "cpu_s": 2.0, "gc_s": 0.1, "shuffle_b": 1e6},
        {"start": 2.0, "end": 3.5, "cpu_s": 1.0, "gc_s": 0.2, "shuffle_b": 0},
    ]
    m = tracing.spark_phase_metrics(windows, jobs, tasks, cores=2, n_rounds=1)
    assert m["spark.executor_cpu_s.schedule"] == pytest.approx(1.0)
    assert m["spark.executor_cpu_s.pages_write"] == pytest.approx(2.0)
    assert m["spark.idle_slot_share.schedule"] == pytest.approx((4 - 1) / 4)
    assert m["spark.idle_slot_share.pages_write"] == pytest.approx((4 - 2.5) / 4)
    assert m["spark.idle_slot_share.commit"] == 0  # no wall: reported as 0
    assert m["spark.shuffle_write_mb.pages_write"] == pytest.approx(1.0)
    assert m["spark.gc_s"] == pytest.approx(0.3)
    assert m["spark.jobs_per_round"] == 2


def test_event_log_reader_handles_rolling_dir(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "appstatus_local-1").write_text("")
    (d / "events_1_local-1").write_text(
        '{"Event":"SparkListenerJobStart","Job ID":3,"Submission Time":1500}\n'
        '{"Event":"SparkListenerTaskEnd","Stage ID":1,'
        '"Task Info":{"Launch Time":1000,"Finish Time":3000},'
        '"Task Metrics":{"Executor CPU Time":2000000000,"JVM GC Time":10,'
        '"Shuffle Write Metrics":{"Shuffle Bytes Written":42}}}\n'
    )
    jobs, tasks = tracing.read_event_log(str(tmp_path))
    assert jobs == [{"id": 3, "t": 1.5}]
    assert tasks == [{"start": 1.0, "end": 3.0, "cpu_s": 2.0, "gc_s": 0.01, "shuffle_b": 42}]
