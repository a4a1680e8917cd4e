"""Span self time, span-to-job attribution and status-store counters."""

import pytest

from perfbench import tracing
from perfbench.inputs import cut_points, pass_order
from perfbench.tracing import Span, Tracer


def _span(sid, start, end, parent=None):
    return Span(sid, sid, "t", parent, start, end)


def test_self_time_subtracts_the_union_of_children():
    spans = [_span("p", 0, 10),
             _span("a", 1, 3, "p"), _span("b", 2, 5, "p"),  # overlap
             _span("c", 8, 12, "p"),  # runs past the parent's end
             _span("d", 3.5, 4.5, "b")]  # grandchild: not the parent's
    st = tracing.self_times(spans)
    assert st["p"] == pytest.approx(10 - (4 + 2))
    assert st["b"] == pytest.approx(3 - 1)
    assert st["a"] == pytest.approx(2)


def test_self_time_of_a_leaf_is_its_duration():
    assert tracing.self_times([_span("x", 1.0, 1.25)])["x"] == 0.25


class _FakeSC:
    def __init__(self):
        self.props = {}
        self.calls = []

    def setJobGroup(self, gid, desc, interrupt):
        self.calls.append(gid)
        self.props["spark.jobGroup.id"] = gid

    def setLocalProperty(self, key, value):
        self.props[key] = value


def test_nested_job_groups_restore_the_parent_group():
    sc = _FakeSC()
    tr = Tracer(sc)
    with tr.span("op", job_group=True) as op:
        with tr.span("construct", op, job_group=True) as c:
            assert sc.props["spark.jobGroup.id"] == c.id
        assert sc.props["spark.jobGroup.id"] == op.id
    assert sc.props["spark.jobGroup.id"] is None
    assert c.parent == op.id and c.trace_id == op.trace_id


def test_disabled_tracer_records_nothing():
    tr = Tracer(_FakeSC(), enabled=False)
    with tr.span("op", job_group=True) as op:
        assert op is None
    assert tr.spans == []


def test_jobs_attach_to_the_span_named_by_their_group():
    spans = [_span("s0", 0, 1), _span("s1", 1, 2)]
    jobs = [{"jobId": 7, "jobGroup": "s1", "stageIds": [10, 11]},
            {"jobId": 8, "jobGroup": None, "stageIds": [12]},
            {"jobId": 9, "jobGroup": "s0", "stageIds": [13]}]
    tracing.attach_jobs_by_group(spans, jobs)
    assert spans[0].jobs == [9] and spans[0].stages == [13]
    assert spans[1].jobs == [7] and spans[1].stages == [10, 11]


def test_stages_attach_by_pool_inside_the_window():
    s0, s1 = _span("stream-0", 100, 110), _span("stream-1", 100, 110)
    stages = [
        {"stageId": 1, "schedulingPool": "stream-0", "submissionTime": 101e3},
        {"stageId": 2, "schedulingPool": "stream-1", "submissionTime": 109e3},
        {"stageId": 3, "schedulingPool": "stream-1", "submissionTime": 99e3},
        {"stageId": 4, "schedulingPool": "default", "submissionTime": 105e3},
        {"stageId": 5, "schedulingPool": "stream-0", "submissionTime": None},
    ]
    tracing.attach_stages_by_pool({"stream-0": s0, "stream-1": s1}, stages,
                                  100, 110)
    assert s0.stages == [1] and s1.stages == [2]


def test_jobs_attach_to_batches_by_window_and_group():
    b0, b1 = _span("b0", 10, 11), _span("b1", 11.5, 12)
    jobs = [{"jobId": 1, "jobGroup": "run", "submissionTime": 10_500,
             "stageIds": [1]},
            {"jobId": 2, "jobGroup": "run", "submissionTime": 11_700,
             "stageIds": [2, 3]},
            {"jobId": 3, "jobGroup": "other", "submissionTime": 11_700,
             "stageIds": [4]},
            {"jobId": 4, "jobGroup": "run", "submissionTime": 11_200,
             "stageIds": [5]}]  # between batches: left unattached
    tracing.attach_jobs_by_window([b1, b0], jobs, "run")
    assert b0.jobs == [1] and b1.jobs == [2] and b1.stages == [2, 3]


def _task(inp, shuf):
    return {"taskMetrics": {"inputMetrics": {"recordsRead": inp},
                            "shuffleReadMetrics": {"recordsRead": shuf}}}


def test_exec_counters():
    base = dict(executorRunTime=2000, executorCpuTime=1e9, jvmGcTime=100,
                shuffleReadBytes=10, shuffleWriteBytes=20,
                memoryBytesSpilled=1, diskBytesSpilled=2, inputBytes=64,
                submissionTime=1000, firstTaskLaunchedTime=1250)
    stages = [{**base, "stageId": 1, "status": "COMPLETE",
               "inputRecords": 100},
              {**base, "stageId": 2, "status": "SKIPPED", "inputRecords": 0}]
    tasks = {1: [_task(90, 0), _task(10, 0), _task(0, 0), _task(0, 5)]}
    c = tracing.exec_counters(stages, tasks)
    assert c["stages"] == 1 and c["tasks"] == 4
    assert c["empty_tasks"] == 1
    assert c["task_run_s"] == 2.0 and c["task_cpu_s"] == 1.0
    assert c["sched_wait_s"] == 0.25
    assert c["scan_rows"] == 100 and c["scan_max_task_rows"] == 90
    assert c["spill_bytes"] == 3


def test_parse_metric_value():
    p = tracing.parse_metric_value
    assert p("1.6 s") == pytest.approx(1.6)
    assert p("635 ms") == pytest.approx(0.635)
    assert p("569.0 KiB") == pytest.approx(569 * 1024)
    assert p("total (min, med, max (stageId: taskId))\n"
             "3.1 s (1.0 s, 1.0 s, 1.1 s (stage 3.0: task 12))") == \
        pytest.approx(3.1)
    assert p(None) == 0.0


def test_python_counters_count_each_accumulator_once():
    ex = {"jobs": {"5": "SUCCEEDED"},
          "metrics": [{"name": "time to run Python workers",
                       "accumulatorId": 1},
                      {"name": "time to run Python workers",
                       "accumulatorId": 1},
                      {"name": "data sent to Python workers",
                       "accumulatorId": 2}],
          "metricValues": {"1": "2.0 s", "2": "1.0 KiB"}}
    other = {**ex, "jobs": {"6": "SUCCEEDED"}}
    c = tracing.python_counters([ex, other], {5})
    assert c["py_run_s"] == 2.0 and c["py_bytes_sent"] == 1024


def test_seeded_inputs():
    names = ["a", "b", "c", "d", "e"]
    assert pass_order(names, 1, "w", 0) == pass_order(names, 1, "w", 0)
    assert sorted(pass_order(names, 1, "w", 3)) == names
    orders = {tuple(pass_order(names, s, "w", 0)) for s in range(20)}
    assert len(orders) > 1
    cuts = cut_points(0, 1000, 4, seed=7)
    assert cuts == cut_points(0, 1000, 4, seed=7)
    assert len(cuts) == 3 and 0 < cuts[0] < cuts[1] < cuts[2] < 1000
    assert cuts != cut_points(0, 1000, 4, seed=8)
