"""Spans recorded from outside the library, plus the Spark-side evidence
that is attributed to them after the run.

A span is opened by the benchmark around a call into one of the library's
public functions (or by a wrapper installed where the library looks a name
up, e.g. ``build_pyramid`` inside ``operators/engine.py``). Spans stay in
memory; nothing is written until the run ends. With tracing off, ``span``
is a no-op context manager and nothing is wrapped.

Spark jobs are attributed to the innermost span whose wall interval holds
the job's submission time. Each span also sets a Spark job group, so the
jobs a span submits from the benchmark's own thread are visible to
``statusTracker`` while it runs; jobs the library submits from its own
thread pools (the pyramid's speculative proof and checkpoint pools) carry
no group, which is why the event log's timestamps are the attribution of
record.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []
        self._undo: list = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        group = f"perfbench-{sid}"
        self.sc.setJobGroup(group, name)
        try:
            yield attrs
        finally:
            rec["end"] = time.time()
            rec["group_jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(group))
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def replace(self, owner, attr: str, new):
        """Set owner.attr (a module or class attribute) to `new` until
        unwrap_all()."""
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def wrap(self, owner, attr: str, name: str):
        """Replace owner.attr by a wrapper that runs the original inside
        span(name)."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self.replace(owner, attr, wrapper)

    def unwrap_all(self):
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- span arithmetic ------------------------------------------------

    def children(self, sid: int) -> list:
        return [s for s in self.spans if s["parent"] == sid]

    def descendants(self, sid: int) -> list:
        out, todo = [], [sid]
        while todo:
            kids = self.children(todo.pop())
            out.extend(kids)
            todo.extend(k["id"] for k in kids)
        return out

    @staticmethod
    def dur(s) -> float:
        return s["end"] - s["start"]

    def self_time(self, s) -> float:
        """Duration minus the part of the interval its child spans cover
        (children are sequential in this single-client benchmark)."""
        return self.dur(s) - sum(self.dur(c) for c in self.children(s["id"]))


# -- event log --------------------------------------------------------------

_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"
_FILES_READ = "number of files read"


def read_event_log(event_dir: str) -> dict:
    """Parse the (uncompressed, non-rolling) event log of the app that ran
    in this process into jobs, stages and SQL-file-read facts."""
    jobs: dict = {}  # job id -> submission time (s)
    stage_job: dict = {}
    stages: dict = {}
    sql_files: list = []  # (time_s, files) per driver-side metric update
    acc_names: dict = {}
    sql_time: dict = {}
    files = sorted(glob.glob(os.path.join(event_dir, "*")))
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    jid = e["Job ID"]
                    jobs[jid] = e["Submission Time"] / 1000.0
                    for sid in e["Stage IDs"]:
                        stage_job.setdefault(sid, jid)
                elif ev == "SparkListenerTaskEnd":
                    st = stages.setdefault(e["Stage ID"], _new_stage())
                    tm = e.get("Task Metrics") or {}
                    st["tasks"] += 1
                    st["run_ms"] += tm.get("Executor Run Time", 0)
                    st["cpu_ns"] += tm.get("Executor CPU Time", 0)
                    st["gc_ms"] += tm.get("JVM GC Time", 0)
                    sr = tm.get("Shuffle Read Metrics") or {}
                    st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    sw = tm.get("Shuffle Write Metrics") or {}
                    st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    for a in (e.get("Task Info") or {}).get("Accumulables", []):
                        if a.get("Name") == _PY_SENT:
                            st["py_sent"] += int(a.get("Update", 0))
                        elif a.get("Name") == _PY_RETURNED:
                            st["py_returned"] += int(a.get("Update", 0))
                elif ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    if "time" in e:
                        sql_time[e["executionId"]] = e["time"] / 1000.0
                    _walk_plan(e.get("sparkPlanInfo") or {}, acc_names)
                elif ev.endswith("SparkListenerDriverAccumUpdates"):
                    t = sql_time.get(e.get("executionId"))
                    for acc_id, value in e.get("accumUpdates", []):
                        if acc_names.get(acc_id) == _FILES_READ and t is not None:
                            sql_files.append((t, int(value)))
    return {"jobs": jobs, "stages": stages, "stage_job": stage_job, "sql_files": sql_files}


def _new_stage():
    return {"tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "shuffle_read": 0,
            "shuffle_write": 0, "py_sent": 0, "py_returned": 0}


def _walk_plan(node: dict, acc_names: dict):
    for m in node.get("metrics", []):
        acc_names[m["accumulatorId"]] = m["name"]
    for c in node.get("children", []):
        _walk_plan(c, acc_names)


def attribute_jobs(tracer: Tracer, log: dict) -> dict:
    """job id -> innermost span id whose interval holds its submission."""
    out = {}
    for jid, submit in log["jobs"].items():
        best = None
        for s in tracer.spans:
            if s["end"] is not None and s["start"] <= submit <= s["end"]:
                if best is None or s["start"] >= best["start"]:
                    best = s
        if best is not None:
            out[jid] = best["id"]
    return out


def spark_totals(log: dict, job_ids) -> dict:
    """Sum the runtime facts of the given jobs' executed stages."""
    job_ids = set(job_ids)
    tot = _new_stage()
    n_stages = 0
    for sid, st in log["stages"].items():
        if log["stage_job"].get(sid) in job_ids and st["tasks"]:
            n_stages += 1
            for k in tot:
                tot[k] += st[k]
    return {
        "jobs": len(job_ids),
        "stages": n_stages,
        "tasks": tot["tasks"],
        "task_run_s": tot["run_ms"] / 1000.0,
        "task_cpu_s": tot["cpu_ns"] / 1e9,
        "gc_s": tot["gc_ms"] / 1000.0,
        "shuffle_read_mb": tot["shuffle_read"] / 2**20,
        "shuffle_write_mb": tot["shuffle_write"] / 2**20,
        "python_sent_mb": tot["py_sent"] / 2**20,
        "python_returned_mb": tot["py_returned"] / 2**20,
    }


# -- UDF profiler -----------------------------------------------------------

def udf_self_time_by_file(spark) -> dict:
    """{source file basename: UDF self seconds} from the perf UDF profiler
    (spark.sql.pyspark.udf.profiler=perf), summed over every profiled UDF
    since the last ``spark.profile.clear()``."""
    out: dict = {}
    results = spark._profiler_collector._perf_profile_results
    for stats in results.values():
        if stats is None:
            continue
        for (path, _line, _fn), (_cc, _nc, tottime, _ct, _callers) in stats.stats.items():
            base = os.path.basename(path)
            out[base] = out.get(base, 0.0) + tottime
    return out


def package_file_groups(package_dir: str, groups: dict) -> dict:
    """{basename: group} for the library files matched by `groups`
    ({group name: relative path prefix}). Basenames that occur more than
    once in the package are left out, since the profiler reports basenames
    only."""
    seen: dict = {}
    for dirpath, _dirs, files in os.walk(package_dir):
        for name in files:
            if name.endswith(".py"):
                rel = os.path.relpath(os.path.join(dirpath, name), package_dir)
                seen.setdefault(name, []).append(rel)
    out = {}
    for base, rels in seen.items():
        if len(rels) != 1:
            continue
        for group, prefix in groups.items():
            if rels[0].startswith(prefix):
                out[base] = group
    return out
