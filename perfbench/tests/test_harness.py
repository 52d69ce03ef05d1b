"""The benchmark's own arithmetic and checks, without Spark.

    python3 -m pytest perfbench/tests/test_harness.py -q
"""

from __future__ import annotations

import json
import os
import random
import sys
from types import SimpleNamespace

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import checks  # noqa: E402
from perfbench.harness import (  # noqa: E402
    Ledger,
    Span,
    Tracer,
    read_event_log,
    self_time_by_name,
    self_times,
)
from perfbench.workloads import Context, Headline, random_edges, random_matrix  # noqa: E402


# -- failure counting --------------------------------------------------------


def _ctx() -> Context:
    ctx = Context(spark=None, tracer=Tracer(False), ledger=Ledger())
    ctx.rounds.append([])
    return ctx


def test_failures_count_raised_and_wrong_operations_once():
    ctx = _ctx()
    ok = ctx.run("ok", lambda: 1, lambda v: v + 1)
    ctx.check(ok, lambda v: None if v == 2 else "wrong")
    wrong = ctx.run("wrong", lambda: 1, lambda v: v + 2)
    ctx.check(wrong, lambda v: None if v == 2 else f"got {v}")
    ctx.check(wrong, lambda v: "still wrong")
    boom = ctx.run("boom", lambda: 1 / 0)
    ctx.check(boom, lambda v: pytest.fail("a raised operation is not checked"))
    bad_check = ctx.run("bad-check", lambda: None)
    ctx.check(bad_check, lambda v: v.missing)

    assert ctx.ledger.attempted == 4
    assert ctx.ledger.failed == 3
    assert ctx.ledger.failed_frac == 0.75
    assert ok.latency is not None and boom.latency is None
    report = ctx.ledger.report()
    assert report[0] == "wrong: got 3; still wrong"
    assert report[1].startswith("boom: raised ZeroDivisionError")
    assert report[2].startswith("bad-check: check raised AttributeError")


def test_headline_check_flags_a_wrong_result(tmp_path):
    pdf = pd.DataFrame({"k": [1, 2], "v": [0.5, -0.0]})
    h = Headline.__new__(Headline)
    h.sf_tag = "sf-test"
    h.registry = {"q": SimpleNamespace(oracle="SELECT 1", oracle_sf=None)}
    h.oracles = SimpleNamespace(expected=lambda name, sql: checks.digest(pdf))
    assert h._check("q", pdf.iloc[::-1]) is None
    wrong = pdf.assign(v=[0.5, 1.0])
    assert "!= reference" in h._check("q", wrong)
    assert "!= reference" in h._check("q", pdf.iloc[:1])

    ctx = _ctx()
    op = ctx.run("queries.q", lambda: wrong)
    ctx.check(op, lambda got: h._check("q", got))
    assert (ctx.ledger.attempted, ctx.ledger.failed) == (1, 1)


def test_pinned_oracle_reads_expected_file(monkeypatch, tmp_path):
    path = tmp_path / "expected.json"
    path.write_text(json.dumps({"sf9": {"q": {"rows": 1, "hash": "h"}}}))
    monkeypatch.setattr("perfbench.workloads.EXPECTED_PATH", str(path))
    h = Headline.__new__(Headline)
    h.registry = {"q": SimpleNamespace(oracle="SELECT 1", oracle_sf="0.01")}
    h.oracles = SimpleNamespace(expected=lambda *a: pytest.fail("oracle is pinned elsewhere"))
    h.sf_tag = "sf9"
    assert h.reference("q") == {"rows": 1, "hash": "h"}
    h.sf_tag = "sf8"
    assert h.reference("q") is None


# -- digests -----------------------------------------------------------------


def test_digest_ignores_row_and_column_order():
    a = pd.DataFrame({"x": [1, 2, 3], "y": ["a", "b", None]})
    b = pd.DataFrame({"y": [None, "a", "b"], "x": [3, 1, 2]})
    assert checks.digest(a) == checks.digest(b)
    assert checks.digest(a)["rows"] == 3
    assert checks.digest(a) != checks.digest(a.assign(x=[1, 2, 4]))
    assert checks.digest(pd.DataFrame({"f": [-0.0]})) == checks.digest(pd.DataFrame({"f": [0.0]}))
    assert checks.digest(pd.DataFrame({"f": [float("nan")]})) == checks.digest(
        pd.DataFrame({"f": [None]}, dtype=object)
    )


# -- spans -------------------------------------------------------------------


def test_self_time_subtracts_covered_child_time():
    spans = [
        Span(0, "round", None, None, 0.0, 10.0),
        Span(1, "op", 0, 1, 1.0, 9.0),
        Span(2, "ops.build", 1, 1, 1.0, 4.0),
        Span(3, "ops.execute", 1, 1, 3.0, 8.0),  # overlaps build by 1
        Span(4, "check", 0, 1, 9.5, 12.0),  # runs past its parent's end
    ]
    st = self_times(spans)
    # op: children cover [1, 8] once, not 3 + 5
    assert st == {0: 10.0 - 8.0 - 0.5, 1: 8.0 - 7.0, 2: 3.0, 3: 5.0, 4: 2.5}
    by_name = self_time_by_name(spans + [Span(5, "ops.build", 1, 1, 8.5, 9.0)])
    assert by_name["ops.build"] == 3.5
    assert by_name["op"] == 0.5


def test_tracer_nests_spans_and_is_free_when_off():
    ticks = iter(range(100))
    tr = Tracer(True, clock=lambda: float(next(ticks)))
    with tr.span("a", op=7):
        with tr.span("b"):
            pass
    a, b = tr.spans
    assert (b.parent, b.op, a.parent) == (a.sid, 7, None)
    assert a.start < b.start < b.end < a.end
    off = Tracer(False)
    with off.span("a") as s:
        assert s is None
    assert off.spans == [] and off.own_s == 0.0


# -- event log ---------------------------------------------------------------


def test_event_log_aggregates_by_job_group():
    def ev(**kw):
        return json.dumps(kw)

    lines = [
        ev(Event="SparkListenerJobStart", **{"Job ID": 0, "Stage IDs": [0, 1],
           "Properties": {"spark.jobGroup.id": "pb:1:0:execute"}}),
        ev(Event="SparkListenerJobStart", **{"Job ID": 1, "Stage IDs": [2], "Properties": {}}),
        ev(Event="SparkListenerTaskEnd", **{"Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 1500, "Executor CPU Time": 10**9, "JVM GC Time": 100,
            "Input Metrics": {"Bytes Read": 64},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 10}}}),
        ev(Event="SparkListenerTaskEnd", **{"Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 500, "Disk Bytes Spilled": 7,
            "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2}}}),
        ev(Event="SparkListenerTaskEnd", **{"Stage ID": 2, "Task Metrics": {"Executor Run Time": 9}}),
        ev(Event="SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 0}}),
        ev(Event="SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 1}}),
    ]
    g = read_event_log(lines)
    assert list(g) == ["pb:1:0:execute"]
    s = g["pb:1:0:execute"]
    assert (s.jobs, s.stages, s.tasks) == (1, 2, 2)
    assert (s.task_run_s, s.task_cpu_s, s.gc_s) == (2.0, 1.0, 0.1)
    assert (s.scan_bytes, s.scan_tasks, s.spill_bytes) == (64, 1, 7)
    assert (s.shuffle_write_bytes, s.shuffle_read_bytes) == (10, 3)


# -- graph references --------------------------------------------------------


def test_graph_references_on_a_hand_built_graph():
    edges = [(1, 2), (1, 3), (2, 4), (3, 4), (4, 1), (5, 6)]
    adj = checks.adjacency(edges)
    assert checks.bfs_levels(adj, 1) == {1: 0, 2: 1, 3: 1, 4: 2}
    # 1 -> 2 -> 4 (4 -> 1 visited: leaf), back to 1 -> 3 (3 -> 4 visited: leaf)
    assert checks.dfs_leaves(adj, 1) == [3, 4]
    assert checks.dfs_leaves(adj, 6) == []
    assert checks.components(edges) == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5}
    pr = checks.pagerank(edges, iterations=30)
    assert abs(sum(pr.values()) - 1.0) < 1e-12
    assert pr[6] > pr[5]  # 6 is a dangling sink fed by 5


def test_seeded_inputs_repeat():
    assert random_matrix(random.Random(3), 30, 0.1) == random_matrix(random.Random(3), 30, 0.1)
    a, b = random_edges(4, 100, 500), random_edges(4, 100, 500)
    assert a.equals(b) and len(a) == 500
    assert (a.src != a.dst).all() and not a.duplicated().any()
    assert a.values.min() >= 1 and a.values.max() <= 100


# -- sf1 cache validation ----------------------------------------------------


def test_sf1_copy_is_reused_only_when_complete_and_current(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from distributed_graph_database_system_spark.sources.catalog import TABLES
    from perfbench import sf1

    src, out = tmp_path / "src", tmp_path / "sf1"
    src.mkdir()
    out.mkdir()
    for t in TABLES:
        pq.write_table(pa.table({"k": [1, 2]}), src / f"{t}.parquet")
        n = 2 if t in sf1.UNSCALED else 2 * sf1.COPIES
        (out / f"{t}.parquet").mkdir()
        pq.write_table(pa.table({"k": list(range(n))}), out / f"{t}.parquet" / "part-0.parquet")
    assert not sf1.is_valid(str(out), str(src))  # no marker: a build cut short
    (out / sf1.MARKER).write_text(json.dumps({"source": checks.fixture_fingerprint(str(src))}))
    assert sf1.is_valid(str(out), str(src))

    (out / "lineitem.parquet" / "part-0.parquet").unlink()  # partial copy
    assert not sf1.is_valid(str(out), str(src))
    pq.write_table(pa.table({"k": list(range(20))}), out / "lineitem.parquet" / "part-0.parquet")
    assert sf1.is_valid(str(out), str(src))

    pq.write_table(pa.table({"k": [1, 2, 3]}), src / "orders.parquet")  # stale source
    os.utime(src / "orders.parquet", (1, 1))
    assert not sf1.is_valid(str(out), str(src))


def test_sf1_refuses_a_source_make_sf1_does_not_read(tmp_path):
    from perfbench import sf1

    with pytest.raises(RuntimeError, match="not from"):
        sf1.ensure(str(tmp_path), str(tmp_path / "work"))
    assert not (tmp_path / "work").exists()
