"""Unit tests of the benchmark's own arithmetic and checks; no Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402
from spans import Tracer  # noqa: E402


# ---------------------------------------------------------------- percentile


def test_tail_needs_more_than_ten_samples():
    assert stats.tail(range(10)) is None
    assert stats.tail([]) is None


def test_tail_eleven_samples_is_the_smallest():
    value, pct, n = stats.tail([5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0])
    assert (value, n) == (1.0, 11)
    assert pct == pytest.approx(100 / 11)


def test_tail_keeps_ten_samples_beyond():
    xs = list(range(100, 0, -1))  # unsorted input: 100 .. 1
    value, pct, n = stats.tail(xs)
    assert (value, pct, n) == (90, 90.0, 100)
    assert sum(1 for x in xs if x > value) == 10


def test_tail_custom_beyond():
    assert stats.tail([3, 1, 2], beyond=1) == (2, 100 * 2 / 3, 3)


# ----------------------------------------------------------------- self time


def test_covered_merges_overlaps_and_clips():
    assert stats.covered([], 0, 10) == 0
    assert stats.covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert stats.covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert stats.covered([(11, 12), (4, 4)], 0, 10) == 0


def _span(start, end, parent=None):
    return {"start": start, "end": end, "parent": parent}


def test_self_time_subtracts_direct_children_once():
    spans = [
        _span(0, 10),  # root
        _span(1, 4, 0),  # child
        _span(3, 6, 0),  # child overlapping the first: 1..6 covered once
        _span(2, 3, 1),  # grandchild: covered by its parent, not by the root
        _span(8, 12, 0),  # child running past the root's end: covers 8..10
    ]
    assert stats.self_times(spans) == [10 - 5 - 2, 3 - 1, 3, 1, 4]


def test_self_time_without_children_is_duration():
    assert stats.self_times([_span(2.5, 4.0), _span(5, 5)]) == [1.5, 0]


def test_mean():
    assert stats.mean([1, 2, 6]) == 3.0


def test_abba_overhead_cancels_a_linear_drift():
    import workloads

    class Ctx:
        trace = True

    flags = [workloads.traced(Ctx, j) for j in range(8)]
    assert flags == [False, True, True, False] * 2
    Ctx.trace = False
    assert not any(workloads.traced(Ctx, j) for j in range(8))
    # each operation is 0.5 s slower than the one before; tracing adds 0.3 s
    ops = [{"traced": f, "s": 10 + 0.5 * j + (0.3 if f else 0)} for j, f in enumerate(flags)]
    assert workloads.overhead(ops, lambda o: o["s"]) == pytest.approx(0.3)
    assert workloads.overhead(ops[:1], lambda o: o["s"]) == 0.0


class _Stage:
    def __init__(self, tasks):
        self.numTasks = tasks


class _Job:
    def __init__(self, stages):
        self.stageIds = stages


class _Status:
    """statusTracker stand-in: job ids by group, stages, tasks."""

    def __init__(self):
        self.groups: dict = {}
        self.jobs: dict = {}
        self.stages: dict = {}

    def run(self, group, jid, stage_tasks):
        self.groups.setdefault(group, []).append(jid)
        self.jobs[jid] = _Job([jid * 10 + k for k in range(len(stage_tasks))])
        for k, t in enumerate(stage_tasks):
            self.stages[jid * 10 + k] = _Stage(t)

    def getJobIdsForGroup(self, g):
        return list(self.groups.get(g, []))

    def getJobInfo(self, jid):
        return self.jobs.get(jid)

    def getStageInfo(self, sid):
        return self.stages.get(sid)


class _Context:
    def __init__(self):
        self.status = _Status()
        self.group = None

    def statusTracker(self):
        return self.status

    def setJobGroup(self, group, description):
        self.group = (group, description)


class _Spark:
    def __init__(self):
        self.sparkContext = _Context()


def test_tracer_attributes_jobs_to_the_innermost_span():
    spark = _Spark()
    st = spark.sparkContext.status
    st.run("perfbench", 0, [1])  # before any span: belongs to nobody
    tr = Tracer(spark)
    with tr.span("outer"):
        st.run(None, 1, [2, 3])  # from a library thread, no group
        with tr.span("inner"):
            assert spark.sparkContext.group == ("perfbench", "inner")
            st.run("perfbench", 2, [4])
            st.run("query-1", 3, [1, 1])
            tr.watch("query-1")
        assert spark.sparkContext.group == ("perfbench", "outer")
    calls = tr.calls()
    (inner,), (outer,) = calls["inner"], calls["outer"]
    assert (inner["spark_jobs"], inner["spark_stages"], inner["spark_tasks"]) == (2, 3, 6)
    assert (outer["spark_jobs"], outer["spark_stages"], outer["spark_tasks"]) == (1, 2, 5)
    assert 0 <= outer["self_s"] <= tr.spans[0]["end"] - tr.spans[0]["start"]


# -------------------------------------------------------------------- checks


def test_check_ingest_accepts_a_conserving_drain():
    sent = {1: b"a", 2: b"a", 3: b"b", 4: b"c", 5: b"bad"}
    # 2 is an exact copy of 1 (dropped), 4 a near dup (dropped), 5 rejected
    assert checks.check_ingest("t", sent, [1, 3], [5], [4], ["h1", "h3"]) == []


@pytest.mark.parametrize(
    "landed,rejected,near,hashes,needle",
    [
        ([1, 2, 3], [5], [4], ["h1", "h2", "h3"], "identical content"),
        ([1, 3], [5], [4], ["h", "h"], "share a content hash"),
        ([1], [5], [4], ["h1"], "vanished"),
        ([1, 3, 5], [5], [4], ["h1", "h3", "h5"], "landed and rejected"),
        ([1, 3, 9], [5], [4], ["h1", "h3", "h9"], "never sent"),
    ],
)
def test_check_ingest_flags_violations(landed, rejected, near, hashes, needle):
    sent = {1: b"a", 2: b"a", 3: b"b", 4: b"c", 5: b"bad"}
    problems = checks.check_ingest("t", sent, landed, rejected, near, hashes)
    assert any(needle in p for p in problems), problems


def test_check_closure_reports_both_directions():
    got = {"orders": {1, 2}, "customer": {7}}
    want = {"orders": {2, 3}, "customer": {7}}
    assert checks.check_closure(got, want) == ["closure orders: 1 extra, 1 missing keys"]
    assert checks.check_closure(want, want) == []


# ----------------------------------------------------------------- generator


def test_generator_is_deterministic(tmp_path):
    for d in ("a", "b"):
        gen.corpus(3, str(tmp_path / d), n_docs=30, n_files=2, n_copies=3, n_edits=3,
                   n_lowq=2)
    a, b = gen.load(str(tmp_path / "a")), gen.load(str(tmp_path / "b"))
    assert a["content"] == b["content"] and a["edits"] == b["edits"]
    for fa, fb in zip(sorted(a["files"]), sorted(b["files"])):
        assert open(fa, "rb").read() == open(fb, "rb").read()
    assert len(a["content"]) == 30 + 2 + 3 + 3
    for src, copy in a["copies"]:
        assert a["content"][src] == a["content"][copy]
    for src, edit in a["edits"]:
        diff = [x != y for x, y in zip(a["content"][src].split(), a["content"][edit].split())]
        assert sum(diff) <= 1
    assert sorted(i for ids in a["files"].values() for i in ids) == sorted(a["content"])


def test_slice_roots_are_seeded_and_balanced(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    cust = [k for k in range(200) for _ in range(k % 7)]
    pq.write_table(pa.table({"o_custkey": cust}), str(tmp_path / "orders.parquet"))
    a = gen.slice_roots(3, str(tmp_path), 4, per_iter=10)
    assert a == gen.slice_roots(3, str(tmp_path), 4, per_iter=10)
    assert a != gen.slice_roots(4, str(tmp_path), 4, per_iter=10)
    target = 10 * len(cust) / len(set(cust))
    for roots in a:
        assert len(set(roots)) == 10
        n = sum(k % 7 for k in roots)
        assert abs(n - target) <= 0.02 * target


# ----------------------------------------------------------- BENCHMARK.json


def test_benchmark_json_lists_what_run_reports():
    import run
    import workloads

    path = os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")
    if not os.path.exists(path):
        pytest.skip("no BENCHMARK.json beside the benchmark")
    with open(path) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)


# ----------------------------------------------------------- process hygiene


def test_reap_waits_for_orphaned_grandchildren():
    """A grandchild whose parent has exited is adopted and reaped, so the
    benchmark leaves no process behind."""
    import subprocess

    code = (
        "import os, subprocess, sys; sys.path.insert(0, %r)\n"
        "import run\n"
        "run._adopt_orphans()\n"
        "p = subprocess.Popen(['sh', '-c', 'sleep 60 & echo $!'], stdout=subprocess.PIPE, text=True)\n"
        "orphan = int(p.stdout.readline()); p.wait()\n"
        "assert run._children() == [orphan]\n"
        "run._reap(grace_s=0.2)\n"
        "assert run._children() == [] and not os.path.exists(f'/proc/{orphan}')\n"
    ) % BENCH
    subprocess.run([sys.executable, "-c", code], check=True, timeout=30)
