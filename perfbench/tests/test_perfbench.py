"""Self-tests of the benchmark's own code: the event-log reducer, the
input generators and the tail-percentile rule.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
from stats import percentile, tail_percentile  # noqa: E402
from tracing import pass_metrics, reduce_event_log, stage_rows  # noqa: E402


def _job_start(job, group, pass_no, submit, stages):
    props = {"spark.jobGroup.id": group, "perfbench.pass": str(pass_no)}
    return {"Event": "SparkListenerJobStart", "Job ID": job, "Submission Time": submit,
            "Stage IDs": stages, "Properties": props}


def _job_end(job, t):
    return {"Event": "SparkListenerJobEnd", "Job ID": job, "Completion Time": t,
            "Job Result": {"Result": "JobSucceeded"}}


def _task(stage, run_ms, reason="Success", **extra):
    metrics = {
        "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 500_000,
        "JVM GC Time": 1, "Executor Deserialize Time": 2,
        "Input Metrics": {"Bytes Read": 1024 * 1024},
        "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 512 * 1024},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 256 * 1024},
        "Disk Bytes Spilled": 0,
    }
    metrics.update(extra)
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
            "Task End Reason": {"Reason": reason}, "Task Metrics": metrics}


LOG = [
    {"Event": "SparkListenerApplicationStart", "App Name": "t"},
    _job_start(0, "w:q1:build", 0, 1000, [0]),  # warm pass, excluded
    _task(0, 50),
    _job_end(0, 1100),
    _job_start(1, "w:q1:build", 1, 2000, [1]),
    _task(1, 100),
    _job_end(1, 2200),
    _job_start(2, "w:q1:exec", 1, 2100, [2, 3]),  # overlaps job 1 by 100 ms
    _task(2, 300),
    _task(2, 100, reason="ExceptionFailure"),
    _task(3, 200, **{"Disk Bytes Spilled": 2 * 1024 * 1024}),
    _job_end(2, 2600),
    _job_start(3, "w:q2:exec", 1, 3000, [3, 4]),  # stage 3 reused, skipped
    _task(4, 400),
    _job_end(3, 3400),
]


def test_reducer_on_hand_written_log():
    reduced = reduce_event_log(json.dumps(e) for e in LOG)
    assert reduced["stages"][3]["job"] == 2  # stays with the first job listing it
    m = pass_metrics(reduced, 1, cores=2)
    assert m["exec.jobs"] == 3
    assert m["exec.stages"] == 4
    assert m["exec.tasks"] == 5
    assert m["exec.failed_tasks"] == 1
    assert m["exec.task_run_s"] == pytest.approx(1.1)
    assert m["exec.task_cpu_s"] == pytest.approx(0.55)
    assert m["exec.gc_s"] == pytest.approx(0.005)
    assert m["exec.deser_s"] == pytest.approx(0.010)
    # Union of [2000, 2200], [2100, 2600] and [3000, 3400]: 0.6 s + 0.4 s.
    assert m["exec.wall_s"] == pytest.approx(1.0)
    assert m["exec.core_util"] == pytest.approx(1.1 / (1.0 * 2))
    assert m["exec.input_mb"] == pytest.approx(5.0)
    assert m["exec.shuffle_read_mb"] == pytest.approx(2.5)
    assert m["exec.shuffle_write_mb"] == pytest.approx(1.25)
    assert m["exec.spill_mb"] == pytest.approx(2.0)
    assert m["jobs_by_phase"] == {"build": 1, "exec": 2}
    assert m["jobs_by_op_phase"][("q1", "exec")] == 1
    rows = stage_rows(reduced, 1)
    assert [r["stage"] for r in rows] == [1, 2, 3, 4]
    assert rows[1]["group"] == "w:q1:exec" and rows[1]["tasks"] == 2
    warm = pass_metrics(reduced, 0, cores=2)
    assert warm["exec.jobs"] == 1 and warm["exec.tasks"] == 1


def test_tables_are_identical_for_the_same_seed(tmp_path):
    a, b = gen.tables(0.001, 7), gen.tables(0.001, 7)
    assert a.keys() == b.keys()
    for name in a:
        assert a[name].equals(b[name]), name
    assert not gen.tables(0.001, 8)["lineitem"].equals(a["lineitem"])
    gen.write_tables(str(tmp_path), 0.001, 7)
    assert pq.read_table(tmp_path / "orders.parquet").equals(a["orders"])


def test_catalog_fixtures_are_identical_for_the_same_seed(tmp_path):
    def build(seed, sub):
        cat = gen.catalog_fixtures(seed, str(tmp_path / sub), 2, 50, 1, 300)
        files = [open(d.csv_path, "rb").read() for d in cat.datasets]
        return cat, files

    cat1, files1 = build(5, "a")
    cat2, files2 = build(5, "b")
    assert files1 == files2
    for attr in ("basic_info", "ptable", "pcolumn", "pending_ids"):
        assert getattr(cat1, attr) == getattr(cat2, attr)
    assert [d.start_idx for d in cat1.datasets] == [d.start_idx for d in cat2.datasets]
    _, files3 = build(6, "c")
    assert files3 != files1
    # Checkpoints: 0, past-end and mid-file; CSV line counts match the catalog.
    starts = [(d.start_idx, d.rows) for d in cat1.datasets]
    assert starts[0][0] == 0 and starts[1][0] > starts[1][1]
    assert 0 < starts[2][0] < starts[2][1]
    for d in cat1.datasets:
        assert len(open(d.csv_path).read().splitlines()) == d.rows + 1


def test_tail_percentile_rule():
    assert tail_percentile(19) is None
    assert tail_percentile(20) == 50
    assert tail_percentile(40) == 75
    assert tail_percentile(100) == 90
    assert tail_percentile(1000) == 99
    for n in range(20, 2000):
        p = tail_percentile(n)
        assert n * (1 - p / 100) >= 10 - 1e-9  # at least 10 samples beyond p
        assert p == 99 or n * (1 - (p + 1) / 100) < 10  # and p is the highest


def test_percentile_interpolates():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == pytest.approx(2.5)
