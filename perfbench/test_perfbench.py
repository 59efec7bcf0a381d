"""Tests of the benchmark's own checks and statistics (no Spark session).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import statistics
import sys
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import harness  # noqa: E402
import reference as ref  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

# two chains 1->2->3 and 10->11, plus a dangling sink 4 reached from 3
SRC = np.array([1, 2, 3, 10], dtype=np.int64)
DST = np.array([2, 3, 4, 11], dtype=np.int64)


class FakeWorkload(workloads.Workload):
    """One step returning a fixed answer, checked against ``expected``."""

    name = "fake"

    def __init__(self, answer, expected, engine=None, routes_local=False):
        self.answer, self.expected = answer, expected
        self.routes_local = routes_local
        self.probe = None  # the bench's RoutingProbe, set by the fixture
        self.steps = [workloads.Step("answer_s", self._run, self._check, engine)]

    def _run(self, ctx):
        if self.routes_local:  # what a call into the local engine's transfer counts
            self.probe.calls += 1
        return self.answer

    def _check(self, ctx, out):
        ref.expect_equal("answer", self.expected, out)


@pytest.fixture
def bench(tmp_path, monkeypatch):
    def make(wl):
        monkeypatch.setitem(workloads.WORKLOADS, "fake", lambda: wl)
        monkeypatch.setattr(harness, "WORKLOADS", workloads.WORKLOADS)
        b = harness.Bench("fake", 1, 1, False, HERE.parent, tmp_path, tmp_path / "out")
        b.probe = wl.probe = tracing.RoutingProbe()
        return b, workloads.Ctx(None, 1, b.dirs, trace=tracing.NullTracer())

    made = []
    yield lambda wl: made.append(make(wl)) or made[-1]
    for b, _ in made:
        b.probe.close()


def test_right_answer_passes(bench):
    b, ctx = bench(FakeWorkload(42, 42))
    assert b.run_job(ctx) is not None
    assert b.result({})["correct"] and b.failed == 0 and b.attempted == 1


def test_wrong_expected_value_fails_the_run(bench):
    b, ctx = bench(FakeWorkload(42, 43))
    assert b.run_job(ctx) is None
    res = b.result({})
    assert res == {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    assert "answer" in b.failures[0]


def test_route_other_than_declared_fails(bench):
    b, ctx = bench(FakeWorkload(42, 42, engine="local"))
    assert b.run_job(ctx) is None
    assert "routed to distributed, declared local" in b.failures[0]
    b2, ctx2 = bench(FakeWorkload(42, 42, engine="local", routes_local=True))
    assert b2.run_job(ctx2) is not None


def test_loop_stops_after_consecutive_failures(bench):
    b, ctx = bench(FakeWorkload(1, 2))
    assert b.loop(ctx, seconds=60) == []
    assert b.failed == harness.MAX_CONSECUTIVE_FAILURES


def test_pagerank_tolerance_and_iterations():
    ids, pr, its = ref.pagerank(SRC, DST, iterations=5)
    assert its == 5 and abs(pr.sum() - 1.0) < 1e-12
    with pytest.raises(ref.Mismatch):
        ref.expect_close("pr", ids, pr, ids, pr + 2e-6)
    ref.expect_close("pr", ids, pr, ids, pr + 5e-7)
    _, _, its_tol = ref.pagerank(SRC, DST, tolerance=1e-6)
    assert 5 < its_tol < 200


class _Res:
    def __init__(self, ranks_tbl, iterations, history):
        self.ranks_tbl, self.iterations, self.history = ranks_tbl, iterations, history


def test_check_ranks_rejects_wrong_iterations_values_and_fallback():
    import pyarrow as pa

    ids, pr, its = ref.pagerank(SRC, DST, iterations=3)
    good = pa.table({"id": ids[::-1], "pagerank": pr[::-1]})
    workloads.check_ranks("pr", (ids, pr, its), _Res(good, 3, [{"state_bucketed": True}]))
    with pytest.raises(ref.Mismatch, match="iterations"):
        workloads.check_ranks("pr", (ids, pr, its), _Res(good, 4, []))
    bad = pa.table({"id": ids, "pagerank": pr * 1.001})
    with pytest.raises(ref.Mismatch, match="ranks"):
        workloads.check_ranks("pr", (ids, pr, its), _Res(bad, 3, []))
    with pytest.raises(ref.Mismatch, match="fell back"):
        workloads.check_ranks("pr", (ids, pr, its), _Res(good, 3, [{"state_bucketed": False}]))


def test_components_and_label_propagation():
    ids, comp = ref.connected_components(SRC, DST)
    assert dict(zip(ids.tolist(), comp.tolist())) == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    # a path 1-2-3: vertex 2 sees labels {1, 3} (tie -> 1); 1 and 3 see {2}
    ids, labels, rounds = ref.label_propagation(np.array([1, 2]), np.array([2, 3]), 1)
    assert labels.tolist() == [2, 1, 2] and rounds == 1


def test_hits_and_ppr_are_normalized():
    _, hub, auth, its = ref.hits(SRC, DST, 10)
    assert its <= 10 and abs(hub.sum() - 1) < 1e-12 and abs(auth.sum() - 1) < 1e-12
    ids, score = ref.personalized_pagerank(SRC, DST, [1], 15)
    assert abs(score.sum() - 1.0) < 1e-9 and score[ids.tolist().index(10)] == 0.0


def test_turn_edges_reference():
    conv = np.array([0, 0, 0, 1, 1])
    turn = np.array([2, 0, 1, 1, 0])
    src, dst = ref.turn_edges(conv, turn)
    assert list(zip(src.tolist(), dst.tolist())) == [(0, 1), (1, 2), (65536, 65537)]


def test_summary_uses_median_and_quartiles():
    xs = [5.0, 1.0, 3.0, 2.0]
    s = harness.summarize(xs)
    assert s["median"] == statistics.median(xs) == 2.5  # not the upper median
    assert (s["q1"], s["q3"]) == tuple(statistics.quantiles(xs, n=4)[::2])
    assert s["pct"] is None and s["n"] == 4
    s = harness.summarize([float(i) for i in range(20)])
    assert s["pct"][0] == 50.0  # the highest percentile with ten samples beyond it
    s = harness.summarize([float(i) for i in range(100)])
    assert s["pct"][0] == 90.0


def test_event_log_reader(tmp_path):
    import json

    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [1],
         "Properties": {"spark.jobGroup.id": "perfbench:pagerank_s"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "perfbench:other"}},
    ] + [
        {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
         "Task Info": {"Launch Time": 0, "Finish Time": ms},
         "Task Metrics": {"Shuffle Write Metrics": {"Shuffle Bytes Written": 100,
                                                    "Shuffle Records Written": 2}}}
        for stage, ms in ((1, 1000), (1, 1000), (1, 3000), (2, 5000))
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events))
    got = tracing.read_event_log(str(tmp_path), {"perfbench:pagerank_s"})
    assert got["shuffle_bytes"] == 300 and got["shuffle_records"] == 6
    assert got["task_skew"] == 3.0 and got["stages"] == 1
