"""Self time, span nesting and the event-log join."""

import json

from spans import Span, Tracer, covered, parse_event_log, self_times


def test_self_time_subtracts_children():
    spans = [
        Span("a", None, "op", "x", 0.0, 10.0),
        Span("b", "a", "sql_ddl", "sql", 1.0, 4.0),
        Span("c", "a", "spark", "collect", 5.0, 9.0),
        Span("d", "b", "table_store", "upsert", 2.0, 3.5),
    ]
    st = self_times(spans)
    assert st["a"] == 10.0 - 3.0 - 4.0
    assert st["b"] == 3.0 - 1.5
    assert st["c"] == 4.0
    assert st["d"] == 1.5
    # self times of a tree add up to the root's duration
    assert sum(st.values()) == spans[0].duration


def test_overlapping_children_are_not_counted_twice():
    assert covered([(1.0, 4.0), (2.0, 5.0), (7.0, 8.0)], 0.0, 10.0) == 5.0
    # clipped to the parent's interval
    assert covered([(-1.0, 2.0), (9.0, 12.0)], 0.0, 10.0) == 3.0


def test_tracer_nests_and_sets_job_groups():
    groups = []
    tr = Tracer(groups.append)
    with tr.span("op", "k") as op:
        with tr.span("operators", "build") as b:
            pass
        with tr.span("operators", "execute"):
            pass
    assert b.parent == op.id and op.parent is None
    # each span sets its own group on entry and restores its parent's on exit
    assert groups == [op.id, b.id, op.id, "span-2", op.id, None]


def test_wrap_puts_each_call_in_a_span():
    tr = Tracer()
    f = tr.wrap(lambda x: x + 1, "table_store", "upsert")
    assert f(1) == 2 and f(2) == 3
    assert [s.kind for s in tr.spans] == ["upsert", "upsert"]


def test_event_log_join(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "span-1"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.jobGroup.id": "span-1"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor CPU Time": 2_000_000_000, "Memory Bytes Spilled": 5,
            "Disk Bytes Spilled": 7,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}},
        # stage 1 was skipped by job 0 and is submitted by job 1's group
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1],
         "Properties": {"spark.jobGroup.id": "span-2"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1},
         "Properties": {"spark.jobGroup.id": "span-2"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor CPU Time": 1_000_000_000}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [2],
         "Properties": {}},
    ]
    path = tmp_path / "app"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    g = parse_event_log(str(path))
    assert g["span-1"] == {"jobs": 1, "tasks": 1, "executor_cpu_s": 2.0,
                           "shuffle_write_bytes": 100, "spill_bytes": 12}
    assert g["span-2"]["tasks"] == 1 and g["span-2"]["executor_cpu_s"] == 1.0
    assert g[None]["jobs"] == 1
