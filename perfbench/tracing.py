"""Spans around calls into the package, and Spark's own event log.

A ``Tracer`` times each operation the benchmark makes. With ``jobs=True``
(the traced run) it also tags every Spark job started inside a span with the
span's id through ``spark.jobGroup.id``, so the event log attributes jobs,
stages and task metrics to the innermost open span. ``wrap`` installs a span
around a package function from outside the package, in every module that
bound it, so calls made inside ``Engine.run`` are seen as well.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import sys
import time
from collections import defaultdict


class Tracer:
    def __init__(self, sc=None, jobs: bool = False):
        self.sc = sc
        self.jobs = jobs and sc is not None
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = f"bench-{len(self.spans) + len(self._stack)}-{name}"
        parent = self._stack[-1] if self._stack else None
        if self.jobs:
            self.sc.setJobGroup(sid, name)
        self._stack.append(sid)
        rec = {"id": sid, "name": name, "parent": parent, **attrs}
        rec["t0"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)
            if self.jobs:
                self.sc.setLocalProperty("spark.jobGroup.id", parent)

    def wrap(self, module_name: str, attr: str, span_name: str) -> None:
        """Replace ``module.attr`` by a spanned wrapper in every loaded
        module of the package that holds the same function object."""
        orig = getattr(sys.modules[module_name], attr)

        def wrapped(*a, **kw):
            with self.span(span_name):
                return orig(*a, **kw)

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("ups_crossref_etl_spark") and \
                    getattr(mod, attr, None) is orig:
                setattr(mod, attr, wrapped)

    def self_times(self) -> dict[str, float]:
        """Span id -> duration minus the part covered by child spans."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"]:
                child[s["parent"]] += s["t1"] - s["t0"]
        return {s["id"]: (s["t1"] - s["t0"]) - child[s["id"]] for s in self.spans}


def read_event_log(log_dir: str) -> dict:
    """Jobs (with their job group), stages and finished tasks of the one
    application log under ``log_dir`` (a single file, or a rolling log
    directory of ``events_<n>_*`` parts)."""
    paths = []
    for d, _, files in os.walk(log_dir):
        paths += [os.path.join(d, f) for f in files if not f.startswith((".", "appstatus"))]
    paths.sort(key=lambda p: [int(x) if x.isdigit() else x for x in os.path.basename(p).split("_")])
    if not paths:
        raise RuntimeError(f"no event log under {log_dir}")
    jobs, stage_job, tasks, accum_names = {}, {}, [], {}
    for line in _lines(paths):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {"group": props.get("spark.jobGroup.id")}
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerTaskEnd":
            info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            acc = {}
            for a in info.get("Accumulables", []):
                name = a.get("Name")
                if name:
                    acc_name = accum_names.setdefault(a.get("ID"), name)
                    try:
                        acc[acc_name] = acc.get(acc_name, 0) + float(a.get("Update", 0))
                    except (TypeError, ValueError):
                        pass
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            tasks.append({
                "stage": ev.get("Stage ID"),
                "run_ms": m.get("Executor Run Time", 0),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
                "read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "write_bytes": sw.get("Shuffle Bytes Written", 0),
                "spill_bytes": m.get("Disk Bytes Spilled", 0),
                "acc": acc,
            })
    for t in tasks:
        t["job"] = stage_job.get(t["stage"])
    return {"jobs": jobs, "tasks": tasks}


def _lines(paths):
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            yield from fh


def exec_metrics(log: dict, groups: set[str], wall_s: float, cpus: int) -> dict[str, float]:
    """Executor-side totals over the jobs whose group is in ``groups``."""
    jobs = {j for j, v in log["jobs"].items() if v["group"] in groups}
    tasks = [t for t in log["tasks"] if t["job"] in jobs]
    per_stage = defaultdict(list)
    for t in tasks:
        per_stage[t["stage"]].append(t["run_ms"])
    skew = [max(v) / max(statistics.median(v), 1.0) for v in per_stage.values() if len(v) >= 2]
    run_s = sum(t["run_ms"] for t in tasks) / 1e3

    def acc(*names):
        return sum(t["acc"].get(n, 0) for t in tasks for n in names)

    return {
        "exec.jobs": len(jobs),
        "exec.stages": len(per_stage),
        "exec.tasks": len(tasks),
        "exec.task_run_s": run_s,
        "exec.task_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "exec.gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
        "exec.skew_max_median": max(skew) if skew else 1.0,
        "exec.core_util": run_s / (wall_s * cpus) if wall_s > 0 else 0.0,
        "shuffle.write_bytes": sum(t["write_bytes"] for t in tasks),
        "shuffle.read_bytes": sum(t["read_bytes"] for t in tasks),
        "shuffle.fetch_wait_s": sum(t["fetch_wait_ms"] for t in tasks) / 1e3,
        "spill.disk_bytes": sum(t["spill_bytes"] for t in tasks),
        # SQL metrics of the Arrow/pandas Python nodes
        "python.worker_run_s": acc("time to run Python workers") / 1e3,
        "python.bytes_to_worker": acc("data sent to Python workers"),
    }


def jobs_by_group(log: dict) -> dict[str, int]:
    out = defaultdict(int)
    for v in log["jobs"].values():
        out[v["group"]] += 1
    return out
