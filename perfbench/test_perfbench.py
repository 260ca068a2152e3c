"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import harness  # noqa: E402
import lake_workload as lake  # noqa: E402
from eventlog import attribute_jobs, driver_seconds, read_event_log  # noqa: E402
from harness import Span, self_times, tail_percentile, union_length  # noqa: E402
from layers import END_TO_END, per_layer_units  # noqa: E402


# -- generated inputs ---------------------------------------------------------


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for dp, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(dp, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_nshm_inputs_are_byte_identical_for_a_seed(tmp_path):
    import nshm_workload as nw

    a = nw.land(nw.generate(5), str(tmp_path / "a"))
    b = nw.land(nw.generate(5), str(tmp_path / "b"))
    assert [w for w, _ in a["CRU"]] == [w for w, _ in b["CRU"]]
    ta, tb = _tree_bytes(str(tmp_path / "a")), _tree_bytes(str(tmp_path / "b"))
    assert ta == tb and len(ta) == 5 * sum(nw.BRANCHES.values())
    nw.land(nw.generate(6), str(tmp_path / "c"))
    assert _tree_bytes(str(tmp_path / "c")) != ta  # another seed, other bytes


def test_nshm_op_mix_is_seeded_and_valid_dsl():
    import nshm_workload as nw
    from nshm2022db_spark.dsl import parse_query

    truth = nw.Truth(nw.generate(3))
    ops = nw.make_ops(3, truth, 20)
    assert ops == nw.make_ops(3, truth, 20)
    assert len(ops) == 20 * len(nw.ROUND)
    kinds = [k for k, _ in ops]
    assert all(kinds.count(k) == 40 for k in nw.POINT_KINDS)
    for kind, args in ops:
        if kind == "query":
            parse_query(args[0])  # every generated expression lexes and parses


def test_lake_inputs_are_seeded():
    assert lake.initial_rows(9) == lake.initial_rows(9)
    assert lake.initial_rows(9) != lake.initial_rows(10)
    ids = [r[0] for r in lake.initial_rows(9)]
    assert ids == list(range(lake.INITIAL_ROWS))


# -- the percentile rule ------------------------------------------------------


def test_tail_percentile_leaves_ten_samples_beyond():
    assert tail_percentile(list(range(10))) is None
    assert tail_percentile(list(range(11))) == (9, 0)
    assert tail_percentile(list(range(20))) == (50, 9)
    assert tail_percentile(list(range(1, 101))) == (90, 90)
    for n in range(11, 400):
        p, v = tail_percentile(list(range(n)))
        beyond = sum(1 for x in range(n) if x > v)
        assert beyond >= 10
        # the next whole percentile would leave fewer than ten beyond
        assert n - math.ceil((p + 1) * n / 100) < 10


# -- spans ----------------------------------------------------------------------


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(1, 3), (2, 5), (8, 12)]) == 8
    assert union_length([(1, 3), (2, 5), (8, 12)], 0, 10) == 6
    assert union_length([]) == 0


def test_span_self_time_subtracts_covered_children():
    spans = [
        Span(1, "parent", None, 1, 0.0, 10.0),
        Span(2, "a", 1, 1, 1.0, 3.0),
        Span(3, "b", 1, 1, 2.0, 5.0),
        Span(4, "c", 1, 1, 8.0, 12.0),  # runs past the parent's end
        Span(5, "grandchild", 2, 1, 1.5, 2.5),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 6)
    assert st[2] == pytest.approx(2 - 1)
    assert st[5] == pytest.approx(1)


def test_disabled_tracer_records_nothing():
    tr = harness.Tracer(enabled=False)
    with tr.span("x") as s:
        assert s is None
    assert tr.spans == [] and tr.current() is None


# -- event log ------------------------------------------------------------------


def _recorded():
    d = os.path.join(HERE, "testdata")
    jobs = read_event_log(os.path.join(d, "drain_eventlog.jsonl"))
    with open(os.path.join(d, "drain_spans.json")) as f:
        spans = [Span(**s) for s in json.load(f)]
    return jobs, spans


def test_event_log_parser_sums_tasks_per_job():
    jobs, _ = _recorded()
    assert jobs, "the recorded log has jobs"
    for js in jobs.values():
        assert js.complete_ms >= js.submit_ms > 0
        assert js.tasks >= 0 and js.cpu_ms >= 0
    assert sum(js.tasks for js in jobs.values()) > 0


def test_stream_jobs_attribute_to_the_drain_span():
    jobs, spans = _recorded()
    owned = attribute_jobs(spans, jobs)
    drain = next(s for s in spans if s.window)
    other = [s for s in spans if not s.window]
    # the drain's micro-batch jobs carry the stream's run id, not the
    # span's job group, and still land on the drain span
    stream_jobs = [j for j in owned[drain.sid] if jobs[j].group != drain.group]
    assert stream_jobs
    # no job is owned twice
    flat = [j for s in spans for j in owned[s.sid]]
    assert len(flat) == len(set(flat))
    for s in other:
        assert all(jobs[j].group == s.group for j in owned[s.sid])
    d_ms = driver_seconds(drain, [jobs[j] for j in owned[drain.sid]])
    assert 0 <= d_ms <= drain.seconds


def test_window_span_does_not_take_other_spans_jobs():
    a = Span(1, "a", None, 1, 0.0, 10.0, group="g1", window=True)
    b = Span(2, "b", None, 2, 0.0, 10.0, group="g2")
    from eventlog import JobStats

    jobs = {
        0: JobStats(0, "g2", 1000.0, 2000.0),
        1: JobStats(1, None, 3000.0, 4000.0),
        2: JobStats(2, "run-id", 5000.0, 6000.0),
        3: JobStats(3, None, 20000.0, 21000.0),  # outside the window
    }
    owned = attribute_jobs([a, b], jobs)
    assert owned == {1: [1, 2], 2: [0]}


# -- the lakehouse model --------------------------------------------------------


def test_model_applies_dml_like_the_table():
    m = lake.Model()
    m.append([(1, 10, "view", 100, 10), (2, 11, "buy", 50, 20), (3, 10, "buy", 5, 30)])
    m.merge([(2, 12, "click", 70, 999), (4, 10, "click", 1, 40)])
    assert m.rows[2] == (2, 12, "buy", 70, 20)  # matched: user and amount only
    assert m.rows[4] == (4, 10, "click", 1, 40)  # not matched: inserted
    m.update(10 % lake.USER_MOD, "buy", 7)
    assert m.rows[3][3] == 12 and m.rows[1][3] == 100
    m.delete(10 % lake.USER_MOD, "view")
    assert 1 not in m.rows
    assert m.agg() == {"buy": (2, 82), "click": (1, 1)}
    assert m.agg(3, 4) == {"buy": (1, 12), "click": (1, 1)}


def test_change_fold_matches_model_diff():
    old = {"buy": (2, 82), "click": (1, 1)}
    new = {"buy": (2, 89), "view": (1, 5)}
    rows = [
        ("update_preimage", "buy", 1, 5),
        ("update_postimage", "buy", 1, 12),
        ("delete", "click", 1, 1),
        ("insert", "view", 1, 5),
    ]
    assert lake.fold_changes(rows) == lake._diff(new, old)


# -- BENCHMARK.json ---------------------------------------------------------------


def test_benchmark_json_matches_the_metrics_the_runner_prints():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == per_layer_units()
    import run

    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
