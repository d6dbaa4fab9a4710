"""tools/time_keys.py: its command line, the record it builds from spans
and Spark's event log, and one end-to-end run on the smallest fixture."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench.spans import Span, parse_event_log
from tools.time_keys import parse_args, summarize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_time_keys_repeat_flag_parsing():
    """tools/time_keys: only ``--n`` and ``--n=<int>`` set the repeat
    count; ``--name`` is not a prefix match, and a missing value exits
    with the usage line instead of an IndexError."""
    assert parse_args(["a", "--n", "5", "b"]) == (["a", "b"], 5, None)
    assert parse_args(["--n=7", "k"]) == (["k"], 7, None)
    assert parse_args(["k"]) == (["k"], 3, None)
    for argv in (["k", "--n"], ["--name", "x"], ["--n=x"], ["--n", "x"]):
        with pytest.raises(SystemExit, match="usage:"):
            parse_args(argv)
    # --plans takes a directory the same two ways, and needs one
    assert parse_args(["k", "--plans", "d", "--n=2"]) == (["k"], 2, "d")
    assert parse_args(["--plans=d", "k"]) == (["k"], 3, "d")
    with pytest.raises(SystemExit, match="usage:"):
        parse_args(["k", "--plans"])


def _job(job_id, group, stage, cpu_ns=0, shuffle=0):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": job_id, "Stage IDs": [stage],
         "Properties": {"spark.jobGroup.id": group}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": stage},
         "Properties": {"spark.jobGroup.id": group}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
            "Executor CPU Time": cpu_ns,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}},
    ]


def test_summary_charges_jobs_to_the_chosen_reps_spans(tmp_path):
    rep = lambda r: {"rep": r}  # noqa: E731
    spans = [
        # key "a": rep 0 takes 3.0 s, rep 1 takes 2.0 s and is chosen
        Span("s0", None, "a", "build", 0.0, 1.0, rep(0)),
        Span("s1", None, "a", "execute", 1.0, 3.0, rep(0)),
        Span("s2", None, "a", "build", 3.0, 3.5, rep(1)),
        Span("s3", None, "a", "execute", 3.5, 5.0, rep(1)),
        # phase "p": the scaffold is reported, never part of the total
        Span("s4", None, "p", "scaffold", 5.0, 9.0, rep(0)),
        Span("s5", None, "p", "build", 9.0, 9.25, rep(0)),
        Span("s6", None, "p", "execute", 9.25, 10.0, rep(0)),
        # "bad" raised in its build
        Span("s7", None, "bad", "build", 10.0, 10.5, rep(0)),
    ]
    events = (
        _job(0, "s0", 0) + _job(1, "s0", 1) + _job(2, "s1", 2)
        + _job(3, "s2", 3, cpu_ns=500_000_000)
        + _job(4, "s3", 4, cpu_ns=1_500_000_000, shuffle=64) + _job(5, "s3", 5)
        + _job(6, "s4", 6) + _job(7, "s4", 7) + _job(8, "s6", 8)
        + _job(9, None, 9)  # warm-up, outside every span
    )
    log = tmp_path / "app"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    out = summarize(
        ["a", "p", "bad"], spans, parse_event_log(str(log)), {"bad": "KeyError: 'bad'"}
    )
    assert out["a"] == {
        "total_s": 2.0, "build_s": 0.5, "execute_s": 1.5,
        "build_jobs": 1, "execute_jobs": 2, "execute_tasks": 2,
        "executor_cpu_s": 2.0, "shuffle_write_bytes": 64, "spill_bytes": 0,
        "samples": [3.0, 2.0],
    }
    assert out["p"]["total_s"] == 1.0 and out["p"]["scaffold_s"] == 4.0
    assert (out["p"]["scaffold_jobs"], out["p"]["build_jobs"], out["p"]["execute_jobs"]) == (2, 0, 1)
    assert out["bad"] == {"error": "KeyError: 'bad'"}
    assert list(out) == ["a", "p", "bad"]


def test_time_keys_end_to_end(tmp_path, sf_dir):
    plans = tmp_path / "plans"
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    env.pop("SPARK_GRAFT_MASTER", None)
    names = ["scan_full", "scan_snapshot:probe_only"]
    proc = subprocess.run(
        [sys.executable, "-m", "tools.time_keys", *names, "--n", "1", "--plans", str(plans)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    rec = json.loads(proc.stdout)
    assert rec["cpus"] == 2
    assert list(rec["keys"]) == names
    assert rec["keys"]["scan_full"]["execute_jobs"] >= 1
    assert "scaffold_s" in rec["keys"]["scan_snapshot:probe_only"]
    for name in names:
        assert "Physical Plan" in (plans / f"{name}.txt").read_text()
