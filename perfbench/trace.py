"""Spans around the benchmark's calls into each layer, and the reducer that
turns spans plus Spark's event log into per-layer metrics.

A span records name, start, end, parent and run id in memory; ``save``
writes them out at the end of the run. While a span is open its name is
the Spark job group, so every job, stage and task in the event log can be
charged to the span that caused it. Nothing here runs inside the program:
spans wrap calls made from the benchmark's own files.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
import uuid


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list = []
        self._stack: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "run": self.run_id,
               "parent": self._stack[-1]["name"] if self._stack else None}
        self._stack.append(rec)
        self.sc.setJobGroup(name, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            outer = self._stack[-1]["name"] if self._stack else None
            self.sc.setJobGroup(outer, outer)
            self.spans.append(rec)

    def duration(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def under(self, name: str) -> set:
        """``name`` and the names of all spans nested in it."""
        out, grew = {name}, True
        while grew:
            more = {s["name"] for s in self.spans if s["parent"] in out} - out
            grew = bool(more)
            out |= more
        return out

    def save(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


# ------------------------------------------------------------- event log

_UNIT = {"timing": 1e-3, "nsTiming": 1e-9}      # SQL timing metrics -> s


class EventLog:
    """The parts of a Spark event log the per-layer table needs, with each
    job, stage and task charged to the job group (span) that ran it."""

    def __init__(self, log_dir: str):
        self.job_group: dict = {}        # job id -> group
        self.stage_group: dict = {}      # stage id -> group
        self.stage_wall: dict = {}       # (group, stage id) -> seconds
        self.tasks: dict = {}            # group -> [task end event]
        self.metric: dict = {}           # accumulator id -> (node, name, type)
        self.probe_rows: set = set()     # row counters of explodes feeding a
                                         # join's probe (left) side
        self.sql_updates: dict = {}      # group -> {accumulator id: total}
        self.exec_group: dict = {}       # sql execution id -> group
        self.exec_updates: list = []     # (execution id, accumulator id, value)
        files = [f for f in sorted(glob.glob(os.path.join(log_dir, "**", "*"),
                                             recursive=True))
                 if os.path.isfile(f) and "appstatus" not in os.path.basename(f)]
        for path in files:
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))
        for ex, acc, val in self.exec_updates:
            g = self.exec_group.get(ex)
            if g is not None:
                upd = self.sql_updates.setdefault(g, {})
                upd[acc] = upd.get(acc, 0) + val

    def _plan(self, info: dict) -> None:
        for m in info.get("metrics", ()):
            self.metric[m["accumulatorId"]] = (info["nodeName"], m["name"],
                                               m["metricType"])
        children = info.get("children", ())
        if "Join" in info["nodeName"] and children:
            self._mark_probe(children[0])
        for child in children:
            self._plan(child)

    def _mark_probe(self, info: dict) -> None:
        if info["nodeName"] == "Generate":
            self.probe_rows.update(m["accumulatorId"] for m in info["metrics"]
                                   if m["name"] == "number of output rows")
        if "Join" not in info["nodeName"]:
            for child in info.get("children", ()):
                self._mark_probe(child)

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            g = props.get("spark.jobGroup.id")
            self.job_group[e["Job ID"]] = g
            for sid in e.get("Stage IDs", ()):
                self.stage_group[sid] = g
            ex = props.get("spark.sql.execution.id")
            if ex is not None and g is not None:
                self.exec_group[int(ex)] = g
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if "Completion Time" in info and "Submission Time" in info:
                g = self.stage_group.get(info["Stage ID"])
                self.stage_wall[(g, info["Stage ID"])] = (
                    info["Completion Time"] - info["Submission Time"]) / 1e3
        elif kind == "SparkListenerTaskEnd":
            g = self.stage_group.get(e["Stage ID"])
            self.tasks.setdefault(g, []).append(e)
            upd = self.sql_updates.setdefault(g, {})
            for a in e["Task Info"].get("Accumulables", ()):
                if a.get("ID") in self.metric and isinstance(a.get("Update"),
                                                             (int, float, str)):
                    upd[a["ID"]] = upd.get(a["ID"], 0) + float(a["Update"])
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"):
            self._plan(e["sparkPlanInfo"])
        elif kind.endswith("AccumUpdates"):          # metrics set outside tasks
            for acc, val in e.get("accumUpdates", ()):
                self.exec_updates.append((e["executionId"], acc, float(val)))

    def sql_metric(self, groups, name: str) -> float:
        """Sum of one SQL metric over all plan nodes, for the jobs of
        ``groups``; timings in seconds."""
        total = 0.0
        for g in groups:
            for acc, val in self.sql_updates.get(g, {}).items():
                _node, mname, mtype = self.metric[acc]
                if mname == name:
                    total += val * _UNIT.get(mtype, 1.0)
        return total

    def probe_rows_in(self, group: str) -> float:
        """Rows the explode on a join's probe side fed into the join."""
        return sum(v for acc, v in self.sql_updates.get(group, {}).items()
                   if acc in self.probe_rows)

    def runtime(self, groups) -> dict:
        """spark.* counters for the jobs of ``groups`` (span names)."""
        tasks = [t for g in groups for t in self.tasks.get(g, [])]
        jobs = sum(1 for g in self.job_group.values() if g in groups)
        stages = [(g, sid) for (g, sid) in self.stage_wall if g in groups]
        out = {"spark.jobs": jobs, "spark.stages": len(stages),
               "spark.tasks": len(tasks), "spark.failed_tasks": 0}
        sums = dict.fromkeys(("run", "cpu", "gc", "delay", "sw", "sr", "spill"), 0.0)
        for t in tasks:
            info, m = t["Task Info"], t.get("Task Metrics") or {}
            if info.get("Failed"):
                out["spark.failed_tasks"] += 1
            run = m.get("Executor Run Time", 0) / 1e3
            sums["run"] += run
            sums["cpu"] += m.get("Executor CPU Time", 0) / 1e9
            sums["gc"] += m.get("JVM GC Time", 0) / 1e3
            dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
            sums["delay"] += max(0.0, dur - run
                                 - m.get("Executor Deserialize Time", 0) / 1e3
                                 - m.get("Result Serialization Time", 0) / 1e3
                                 - info.get("Getting Result Time", 0) / 1e3)
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sums["sw"] += sw.get("Shuffle Bytes Written", 0)
            sums["sr"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            sums["spill"] += m.get("Disk Bytes Spilled", 0)
        out.update({
            "spark.executor_run_s": sums["run"], "spark.executor_cpu_s": sums["cpu"],
            "spark.gc_s": sums["gc"], "spark.scheduler_delay_s": sums["delay"],
            "spark.shuffle_write_bytes": sums["sw"],
            "spark.shuffle_read_bytes": sums["sr"],
            "spark.spill_bytes": sums["spill"],
            "spark.task_skew": self._skew(tasks, stages),
        })
        return out

    def _skew(self, tasks: list, stages: list) -> float:
        """max / median task time in the longest of ``stages``."""
        if not stages:
            return 0.0
        longest = max(stages, key=lambda gs: self.stage_wall[gs])[1]
        times = [(t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"]) / 1e3
                 for t in tasks if t["Stage ID"] == longest]
        med = statistics.median(times) if times else 0.0
        return max(times) / med if med > 0 else 0.0

    def python(self, groups) -> dict:
        """Python UDF boundary: the Arrow/pandas nodes' worker metrics."""
        return {
            "python.start_s": self.sql_metric(groups, "time to start Python workers"),
            "python.init_s": self.sql_metric(groups, "time to initialize Python workers"),
            "python.run_s": self.sql_metric(groups, "time to run Python workers"),
            "python.bytes_sent": self.sql_metric(groups, "data sent to Python workers"),
            "python.bytes_returned": self.sql_metric(groups,
                                                     "data returned from Python workers"),
        }


def layer_table(metrics: dict) -> str:
    """The per-layer metrics as an aligned text table, grouped by layer."""
    width = max(len(k) for k in metrics)
    lines = []
    for k in sorted(metrics, key=lambda k: (k.split(".")[0], k)):
        v = metrics[k]
        lines.append(f"{k:<{width}}  {v:>16.6g}")
    return "\n".join(lines)
