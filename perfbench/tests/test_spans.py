"""Event-log parser and span bookkeeping, on canned inputs."""

from __future__ import annotations

import json

from perfbench.spans import GROUP_PREFIX, Span, Tracer, parse_event_log


def _scan(acc_id: int) -> dict:
    return {"nodeName": "Scan parquet", "children": [],
            "metrics": [{"name": "number of files read",
                         "accumulatorId": acc_id, "metricType": "sum"}]}


def _exchange(child: dict, name: str = "Exchange") -> dict:
    return {"nodeName": name, "children": [child], "metrics": []}


def _stage(name: str, children: list) -> dict:
    return {"nodeName": name, "children": children, "metrics": []}


PRE_AQE = _stage("AdaptiveSparkPlan", [_stage("SortMergeJoin", [
    _exchange(_scan(7)), _exchange(_scan(8))])])
# AQE re-planned: the second exchange reuses the first's output
AQE_FINAL = _stage("AdaptiveSparkPlan", [_stage("SortMergeJoin", [
    _stage("ShuffleQueryStage", [_exchange(_scan(7))]),
    _stage("ShuffleQueryStage", [
        {"nodeName": "ReusedExchange", "children": [], "metrics": []}])])])


def _events(span_id: int) -> list[str]:
    group = f"{GROUP_PREFIX}{span_id}"
    task = {
        "Event": "SparkListenerTaskEnd", "Stage ID": 3,
        "Task Info": {"Accumulables": [{"ID": 7, "Update": 2}]},
        "Task Metrics": {
            "Executor Run Time": 100, "Executor CPU Time": 40_000_000,
            "Shuffle Read Metrics": {"Remote Bytes Read": 5,
                                     "Local Bytes Read": 6},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 11},
            "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2,
        },
    }
    evs = [
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLExecutionStart",
         "executionId": 4, "sparkPlanInfo": PRE_AQE},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [3],
         "Stage Infos": [{"Stage ID": 3, "RDD Info": [
             {"Scope": json.dumps({"id": "9", "name": "MapInPandas"})}]}],
         "Properties": {"spark.jobGroup.id": group,
                        "spark.sql.execution.id": "4"}},
        task, task,
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLAdaptiveExecutionUpdate",
         "executionId": 4, "sparkPlanInfo": AQE_FINAL},
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerDriverAccumUpdates",
         "executionId": 4, "accumUpdates": [[8, 3]]},
        # a job outside every span is dropped
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [5],
         "Stage Infos": [], "Properties": {}},
        {**task, "Stage ID": 5},
    ]
    return [json.dumps(e) for e in evs]


def test_counters_attributed_to_the_span_of_the_job_group():
    c = parse_event_log(_events(2))
    assert set(c) == {2}
    s = c[2]
    assert (s.jobs, s.tasks) == (1, 2)
    assert s.executor_run_ms == 200
    assert s.executor_cpu_ms == 80.0
    assert s.shuffle_read_bytes == 22
    assert s.shuffle_write_bytes == 22
    assert s.spill_bytes == 6
    # stage 3 ran MapInPandas: its tasks are Python-worker time
    assert (s.python_run_ms, s.python_cpu_ms) == (200, 80.0)


def test_exchanges_come_from_the_aqe_final_plan():
    s = parse_event_log(_events(0))[0]
    # the pre-AQE plan had two Exchange nodes; the final one executes one
    # and reuses it once
    assert (s.exchanges_executed, s.exchanges_reused) == (1, 1)


def test_exchanges_fall_back_to_the_initial_plan_without_aqe_update():
    lines = [ln for ln in _events(0) if "AdaptiveExecutionUpdate" not in ln]
    s = parse_event_log(lines)[0]
    assert (s.exchanges_executed, s.exchanges_reused) == (2, 0)


def test_sql_metrics_sum_task_and_driver_updates_by_name():
    s = parse_event_log(_events(1))[1]
    # accumulator 7: two task updates of 2; accumulator 8: one driver
    # update of 3; both are "number of files read"
    assert s.sql_metrics == {"number of files read": 7}


def test_self_time_subtracts_children_covered_interval():
    t = Tracer(enabled=True)
    t.spans = [Span(0, "root", None, 0.0, 10.0),
               Span(1, "a", 0, 1.0, 4.0),
               Span(2, "b", 0, 3.0, 6.0),     # overlaps a: counted once
               Span(3, "c", 1, 1.5, 2.0)]
    selfs = t.self_times()
    assert selfs[0] == 5.0
    assert selfs[1] == 2.5
    assert selfs[2] == 3.0


def test_disabled_tracer_records_nothing():
    t = Tracer(enabled=False)
    with t.span("x") as sp:
        assert sp is None
    assert t.spans == []


def test_nested_spans_link_parents():
    t = Tracer(enabled=True)
    with t.span("outer") as o:
        with t.span("inner") as i:
            pass
    with t.span("remote", parent=o.id) as r:
        pass
    assert (o.parent, i.parent, r.parent) == (None, o.id, o.id)
    assert all(s.end >= s.start for s in t.spans)
