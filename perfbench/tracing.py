"""Tracing for the benchmark's traced run.

``Tracer`` records spans (name, start, end, parent, op id) around the calls
the benchmark makes into the engine, and tags every Spark job started inside
a span with the job group ``<workload>:<op>:<phase>``. ``reduce_event_log``
turns Spark's uncompressed event log into per-job and per-stage rows, which
``pass_metrics`` sums into the ``exec.*`` metrics of one pass.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import Counter
from contextlib import contextmanager

PASS_PROPERTY = "perfbench.pass"


class Tracer:
    """Spans and job groups; every method is a no-op when ``enabled`` is
    false, so the untraced run executes the same benchmark code."""

    def __init__(self, sc, workload: str, enabled: bool):
        self.sc = sc
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op = ""
        self.pass_no = -1
        self._stack: list[int] = []
        self._group: str | None = None
        self._t0 = time.perf_counter()

    def start_pass(self, pass_no: int) -> None:
        self.pass_no = pass_no
        if self.enabled:
            self.sc.setLocalProperty(PASS_PROPERTY, str(pass_no))

    def _set_group(self, group: str | None) -> None:
        self._group = group
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str, phase: str | None = None, op: str | None = None):
        """Time the enclosed block as one span. A ``phase`` also retags the
        Spark jobs started inside the block; ``op`` starts a new op id."""
        if not self.enabled:
            yield None
            return
        if op is not None:
            self.op = op
        rec = {
            "name": name,
            "op": self.op,
            "pass": self.pass_no,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self._t0,
        }
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        prev = self._group
        if phase:
            self._set_group(f"{self.workload}:{self.op}:{phase}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if phase:
                self._set_group(prev)

    def wrap(self, module, attr: str, name: str, phase: str | None = None) -> None:
        """Replace ``module.attr`` with a spanned version at every binding of
        it in the engine's loaded modules (``from x import f`` copies)."""
        if not self.enabled:
            return
        func = getattr(module, attr)

        @functools.wraps(func)
        def spanned(*args, **kwargs):
            with self.span(name, phase):
                return func(*args, **kwargs)

        for mod in list(sys.modules.values()):
            mod_name = getattr(mod, "__name__", "") or ""
            if not mod_name.startswith("seoul_big_data_spark"):
                continue
            for key, val in list(vars(mod).items()):
                if val is func:
                    setattr(mod, key, spanned)

    # -- span queries -------------------------------------------------------

    def total(self, names, pass_no: int, outermost: bool = False) -> float:
        """Summed duration of the spans of one pass named ``names`` (a name
        or a tuple); with ``outermost`` a span nested in another of those
        spans is not counted."""
        names = (names,) if isinstance(names, str) else names
        out = 0.0
        for s in self.spans:
            if s["name"] not in names or s["pass"] != pass_no:
                continue
            if outermost and self._has_ancestor(s, names):
                continue
            out += s["end"] - s["start"]
        return out

    def count(self, name: str, pass_no: int) -> int:
        return sum(1 for s in self.spans if s["name"] == name and s["pass"] == pass_no)

    def self_time(self, name: str, pass_no: int) -> float:
        """Duration of the named spans minus the time their children cover."""
        out = 0.0
        for i, s in enumerate(self.spans):
            if s["name"] != name or s["pass"] != pass_no:
                continue
            kids = sum(c["end"] - c["start"] for c in self.spans if c["parent"] == i)
            out += s["end"] - s["start"] - kids
        return out

    def _has_ancestor(self, s: dict, names) -> bool:
        p = s["parent"]
        while p is not None:
            if self.spans[p]["name"] in names:
                return True
            p = self.spans[p]["parent"]
        return False


# ---------------------------------------------------------------------------
# Event-log reduction.
# ---------------------------------------------------------------------------


def reduce_event_log(lines) -> dict:
    """Reduce event-log JSON lines to ``{"jobs": {...}, "stages": {...}}``.

    A job carries its group, pass, submit/end times (ms) and stage ids; a
    stage carries the job that first listed it and the sums of its task-end
    metrics. Stages a later job lists again (skipped reuse) stay with the
    first job."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job_id = ev["Job ID"]
            jobs[job_id] = {
                "group": props.get("spark.jobGroup.id") or "",
                "pass": int(props[PASS_PROPERTY]) if PASS_PROPERTY in props else None,
                "submit_ms": ev.get("Submission Time", 0),
                "end_ms": None,
                "stages": list(ev.get("Stage IDs", [])),
            }
            for sid in ev.get("Stage IDs", []):
                stages.setdefault(sid, _empty_stage(job_id))
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end_ms"] = ev.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(ev["Stage ID"], _empty_stage(None))
            _add_task(st, ev)
    return {"jobs": jobs, "stages": stages}


def _empty_stage(job_id):
    return {
        "job": job_id, "tasks": 0, "failed_tasks": 0, "run_ms": 0, "cpu_ns": 0,
        "gc_ms": 0, "deser_ms": 0, "input_bytes": 0, "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0, "spill_bytes": 0,
    }


def _add_task(st: dict, ev: dict) -> None:
    st["tasks"] += 1
    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
    if reason != "Success":
        st["failed_tasks"] += 1
    m = ev.get("Task Metrics") or {}
    st["run_ms"] += m.get("Executor Run Time", 0)
    st["cpu_ns"] += m.get("Executor CPU Time", 0)
    st["gc_ms"] += m.get("JVM GC Time", 0)
    st["deser_ms"] += m.get("Executor Deserialize Time", 0)
    st["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0
    )
    st["spill_bytes"] += m.get("Disk Bytes Spilled", 0)


def _union_ms(intervals) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def pass_metrics(reduced: dict, pass_no: int, cores: int) -> dict:
    """``exec.*`` metrics over every job of one pass, plus job counts by the
    phase part of the job group (``jobs_by_phase``)."""
    jobs = {j: v for j, v in reduced["jobs"].items() if v["pass"] == pass_no}
    stage_rows = [s for s in reduced["stages"].values() if s["job"] in jobs]
    tot = Counter()
    for s in stage_rows:
        tot.update({k: v for k, v in s.items() if k != "job"})
    wall_s = _union_ms(
        (j["submit_ms"], j["end_ms"]) for j in jobs.values() if j["end_ms"] is not None
    ) / 1000
    run_s = tot["run_ms"] / 1000
    mb = 1024 * 1024
    return {
        "exec.wall_s": wall_s,
        "exec.jobs": len(jobs),
        "exec.stages": sum(1 for s in stage_rows if s["tasks"]),
        "exec.tasks": tot["tasks"],
        "exec.task_run_s": run_s,
        "exec.task_cpu_s": tot["cpu_ns"] / 1e9,
        "exec.gc_s": tot["gc_ms"] / 1000,
        "exec.deser_s": tot["deser_ms"] / 1000,
        "exec.core_util": run_s / (wall_s * cores) if wall_s else 0.0,
        "exec.input_mb": tot["input_bytes"] / mb,
        "exec.shuffle_read_mb": tot["shuffle_read_bytes"] / mb,
        "exec.shuffle_write_mb": tot["shuffle_write_bytes"] / mb,
        "exec.spill_mb": tot["spill_bytes"] / mb,
        "exec.failed_tasks": tot["failed_tasks"],
        "jobs_by_phase": Counter(j["group"].rsplit(":", 1)[-1] for j in jobs.values()),
        "jobs_by_op_phase": Counter(
            tuple(j["group"].split(":")[1:3]) for j in jobs.values() if j["group"]
        ),
    }


def stage_rows(reduced: dict, pass_no: int) -> list[dict]:
    """Per-stage rows of one pass, with the job group that ran them."""
    out = []
    for sid, s in sorted(reduced["stages"].items()):
        job = reduced["jobs"].get(s["job"])
        if job is None or job["pass"] != pass_no or not s["tasks"]:
            continue
        out.append({"stage": sid, "job": s["job"], "group": job["group"], **{
            k: v for k, v in s.items() if k != "job"}})
    return out
