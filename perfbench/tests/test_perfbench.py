"""Tests of the benchmark's own pieces; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import procstat  # noqa: E402
import run  # noqa: E402
import trace_layers  # noqa: E402
import workloads  # noqa: E402

SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


# ------------------------------------------------------------ generators


def test_anomaly_field_is_seeded():
    a = gen.anomaly_field(3, 60, 8, 16)
    assert np.array_equal(a, gen.anomaly_field(3, 60, 8, 16))
    assert not np.array_equal(a, gen.anomaly_field(4, 60, 8, 16))
    assert a.dtype == np.float32 and a.shape == (60, 8, 16)


def test_anomaly_field_is_coherent_and_unit_variance():
    a = gen.anomaly_field(1, 730, 16, 32)
    assert abs(float(a.std()) - 1.0) < 0.15
    lag1 = np.corrcoef(a[1:, 4, 4], a[:-1, 4, 4])[0, 1]
    assert lag1 > 0.8  # persistent in time
    assert np.corrcoef(a[:, 4, 4], a[:, 4, 5])[0, 1] > 0.8  # smooth in space


def test_sst_and_cells_are_seeded():
    s1, s2 = gen.sst_packed(5, 1, 4, 8), gen.sst_packed(5, 1, 4, 8)
    assert s1.equals(s2)
    assert str(s1.schema.field("time").type) == "timestamp[us, tz=UTC]"
    assert s1.num_rows == 365 * 4
    c1, c2 = gen.extreme_cells(5, 1, 4, 8), gen.extreme_cells(5, 1, 4, 8)
    assert c1.equals(c2)
    assert not c1.equals(gen.extreme_cells(6, 1, 4, 8))


def test_documents_are_seeded_with_planted_truth():
    t1, truth1 = gen.documents(2, 5000)
    t2, truth2 = gen.documents(2, 5000)
    assert t1.equals(t2)
    assert all(np.array_equal(truth1[k], truth2[k]) for k in truth1)
    t3, _ = gen.documents(3, 5000)
    assert not t1.equals(t3)
    text = t1.column("text").to_pylist()
    source = t1.column("source").to_pylist()
    for a, b in truth1["exact"]:
        assert text[a] == text[b]
    for a, b in truth1["near"]:
        wa, wb = text[a].split(" "), text[b].split(" ")
        assert wa[:-1] == wb[:-1] and wa[-1] != wb[-1]
    for d in truth1["contam"]:
        assert source[d] != "src0"
        assert any(source[i] == "src0" and text[i] == text[d] for i in range(len(text)))


def test_fixture_reused_only_on_matching_manifest(tmp_path):
    shape = {"n_docs": 1000}
    d1, m1 = gen.ensure_fixture(tmp_path, "docs", 1, shape)
    stamp = (d1 / "manifest.json").stat().st_mtime_ns
    d2, m2 = gen.ensure_fixture(tmp_path, "docs", 1, shape)
    assert d1 == d2 and m1 == m2
    assert (d2 / "manifest.json").stat().st_mtime_ns == stamp  # not rebuilt
    d3, _ = gen.ensure_fixture(tmp_path, "docs", 1, {"n_docs": 1200})
    assert d3 != d1 and (d3 / "documents.parquet").is_dir()
    d4, _ = gen.ensure_fixture(tmp_path, "docs", 2, shape)
    # only the newest KEEP_FIXTURES fixtures of a kind survive
    assert len(list(tmp_path.glob("docs-*"))) == gen.KEEP_FIXTURES
    assert d4.is_dir()


# --------------------------------------------------------------- digests


def _events(seed: int):
    rng = random.Random(seed)
    return [(ev, rng.randint(1, 50), rng.randint(0, 9), rng.randint(10, 19)) for ev in range(40)]


def test_event_digest_ignores_event_ids_and_order():
    rows = _events(0)
    ids = list(range(1000, 1040))
    random.Random(1).shuffle(ids)
    renumbered = [(ids[ev], n, t0, t1) for ev, n, t0, t1 in rows]
    random.Random(2).shuffle(renumbered)
    d = workloads.event_digest((n, t0, t1) for _, n, t0, t1 in rows)
    assert d == workloads.event_digest((n, t0, t1) for _, n, t0, t1 in renumbered)
    changed = rows[:-1] + [(39, rows[-1][1] + 1, rows[-1][2], rows[-1][3])]
    assert d != workloads.event_digest((n, t0, t1) for _, n, t0, t1 in changed)


def test_pair_digest_is_order_free():
    pairs = [(1, 2), (3, 9), (4, 5)]
    assert workloads.pair_digest(pairs) == workloads.pair_digest(reversed(pairs))
    assert workloads.pair_digest(pairs) != workloads.pair_digest(pairs[:2])


def test_check_events_flags_missing_ids_and_lost_cells():
    rows = [(1, 10, 0, 1), (2, 5, 1, 2)]
    assert workloads.check_events(rows, 15) == []
    assert workloads.check_events(rows, 16)
    assert workloads.check_events([(None, 3, 0, 0)] + rows, None)
    assert workloads.check_events([], None)


def test_check_dedup_requires_every_planted_pair():
    _, truth = gen.documents(4, 5000)
    exact = {tuple(p) for p in truth["exact"].tolist()}
    near = {tuple(p) for p in truth["near"].tolist()}
    flagged = set(truth["contam"].tolist())
    assert workloads.check_dedup(exact | near, exact, flagged, truth) == []
    assert workloads.check_dedup(exact | near, set(list(exact)[1:]), flagged, truth)
    assert workloads.check_dedup(exact, exact, flagged, truth)  # near recall 0
    assert workloads.check_dedup(exact | near, exact, set(), truth)


# --------------------------------------------------------------- metrics


def test_end_to_end_metrics_match_benchmark_json():
    timed = {"walls": [2.0, 1.0, 3.0], "cpus": [4.0, 5.0, 6.0], "peak_rss": 3 * 2**20}
    got = run.end_to_end([1.0, 2.0, 9.0], timed, items=100)
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in got.items()} == want
    assert got["run_s"]["value"] == 2.0 and got["items_per_s"]["value"] == 50.0
    assert got["setup_s"]["value"] == 2.0 and got["peak_rss_mb"]["value"] == 3.0
    assert all(v["value"] > 0 for v in got.values())


def test_per_layer_metrics_match_benchmark_json():
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert trace_layers.metric_names() == want


def test_benchmark_workloads_exist():
    for w in SPEC["workloads"]:
        assert w["name"] in workloads.CLASSES


def test_union_len():
    assert trace_layers._union_len([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert trace_layers._union_len([(0, 2), (1, 3)], 1.5, 2.5) == 1.0
    assert trace_layers._union_len([], 0, 1) == 0


# ----------------------------------------------------- tracer fallback


class _FakeStage:
    numCompletedTasks, numFailedTasks = 4, 1


class _FakeJob:
    stageIds = [7, 8]


class _FakeTracker:
    def getJobIdsForGroup(self, group):
        return [1]

    def getJobInfo(self, jid):
        return _FakeJob()

    def getStageInfo(self, sid):
        return _FakeStage()


class _NoPrivateApi:
    """A context whose private status store is unreachable."""

    def statusTracker(self):
        return _FakeTracker()

    @property
    def _jsc(self):
        raise AttributeError("no JVM handle")


def test_stage_reader_falls_back_to_public_counts():
    reader = trace_layers.StageReader(_NoPrivateApi())
    span = trace_layers.Span("label", "label_components", 1, None, "g", start=0.0, end=2.0)
    reader.fill(span)
    assert reader.private is False
    assert (span.jobs, span.tasks, span.failed_tasks) == (1, 10, 2)
    assert span.executor_run_s == 0.0 and span.stage_windows == []


def test_fallback_layer_metrics_report_wall_only():
    tracer = trace_layers.Tracer(_NoPrivateApi())
    tracer.reader.private = False
    tracer.run_id = 1
    tracer.run_windows = {1: (0.0, 4.0)}
    tracer.spans = [
        trace_layers.Span("merge", "split_merge_events_parallel", 1, None, "a", 0.0, 3.0, rows=[10, 2]),
        trace_layers.Span("label", "label_components", 1, 0, "b", 0.5, 1.5, rows=[10]),
    ]
    m = tracer.layer_metrics(1)
    assert m["merge.wall_s"] == 3.0 and m["merge.self_s"] == 2.0
    assert m["merge.driver_s"] == m["merge.self_s"]
    assert m["merge.ledger_rows"] == 2 and m["label.rows_out"] == 10
    assert m["trace.coverage_frac"] == pytest.approx(0.75)


# ------------------------------------------------------------- procstat


def test_process_tree_cpu_and_wait():
    child = subprocess.Popen(
        [sys.executable, "-c", "import time\nt = time.time()\nwhile time.time() - t < 0.5: pass"]
    )
    try:
        assert child.pid in procstat.tree_pids()
        assert os.getpid() in procstat.tree_pids()
        before = procstat.tree_cpu_s()
        assert procstat.tree_rss_bytes([os.getpid()]) > 0
    finally:
        child.wait(timeout=30)
    # the reaped child's CPU now sits in this process's cutime
    assert procstat.tree_cpu_s() - before > 0.2
    assert procstat.wait_gone([child.pid], timeout_s=5)
