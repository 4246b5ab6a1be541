"""Tracing for the traced run: in-memory spans plus Spark's event log.

Spans are recorded by the benchmark around its calls into each layer
(name, start, end, parent, run id; epoch seconds), kept in memory and
written out once at the end.  Spark's own event log (enabled only in the
traced session) is parsed afterwards: its jobs and stages become child
spans of the ``job`` span that contains them, and its SQL metrics and task
metrics are summed over any time window.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None,
            run_id: str, **attrs) -> int:
        self.spans.append({"id": len(self.spans), "name": name, "start": start,
                           "end": end, "parent": parent, "run_id": run_id, **attrs})
        return len(self.spans) - 1

    @contextlib.contextmanager
    def span(self, name: str, run_id: str):
        """Record the enclosed block; yields the span dict, whose ``end``
        is filled in on exit."""
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, time.time(), 0.0, parent, run_id)
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# SQL metric names (Spark 4.1) -> short keys
PYTHON_METRICS = {
    "time to start Python workers": "python_boot",
    "time to initialize Python workers": "python_init",
    "time to run Python workers": "python_total",
    "data sent to Python workers": "data_sent",
    "data returned from Python workers": "data_received",
}
SCAN_METRICS = {"scan time": "scan_time", "size of files read": "bytes_read"}


class EventLog:
    """One application's event log, indexed for window queries.  Times
    are epoch milliseconds, as Spark writes them."""

    def __init__(self, log_dir: str):
        """``log_dir`` holds the single, uncompressed log of one application."""
        files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
        if len(files) != 1:
            raise FileNotFoundError(f"expected one Spark event log in {log_dir}, found {files}")
        self.executions: dict[int, dict] = {}
        self.metric_defs: dict[int, tuple[str, str]] = {}   # id -> (name, type)
        self.metric_values: dict[int, float] = {}
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        with open(files[0]) as f:
            for line in f:
                self._event(json.loads(line))

    def _plan(self, info: dict) -> None:
        for m in info.get("metrics", []):
            self.metric_defs[m["accumulatorId"]] = (m["name"], m["metricType"])
        for child in info.get("children", []):
            self._plan(child)

    def _event(self, e: dict) -> None:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerSQLExecutionStart":
            self.executions[e["executionId"]] = {
                "start": e["time"], "end": None,
                "plan": e.get("physicalPlanDescription", "")}
            self._plan(e["sparkPlanInfo"])
        elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
            self._plan(e["sparkPlanInfo"])
        elif kind == "SparkListenerSQLAdaptiveSQLMetricUpdates":
            for m in e.get("sqlPlanMetrics", []):
                self.metric_defs[m["accumulatorId"]] = (m["name"], m["metricType"])
        elif kind == "SparkListenerSQLExecutionEnd":
            if e["executionId"] in self.executions:
                self.executions[e["executionId"]]["end"] = e["time"]
        elif kind == "SparkListenerDriverAccumUpdates":
            for acc_id, value in e["accumUpdates"]:
                self._accum(acc_id, value, e["executionId"])
        elif kind == "SparkListenerJobStart":
            exec_id = e.get("Properties", {}).get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "start": e["Submission Time"], "end": None,
                "execution": int(exec_id) if exec_id is not None else None,
                "stages": e["Stage IDs"]}
            for sid in e["Stage IDs"]:
                self.stages.setdefault(sid, {"tasks": [], "submit": None, "complete": None,
                                             "job": e["Job ID"]})
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = self.stages.setdefault(info["Stage ID"], {"tasks": [], "job": None})
            st["submit"] = info.get("Submission Time")
            st["complete"] = info.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            self._task(e)

    def _accum(self, acc_id: int, value, exec_id: int | None = None) -> None:
        try:
            v = float(value)
        except (TypeError, ValueError):
            return
        self.metric_values[acc_id] = self.metric_values.get(acc_id, 0.0) + v
        if exec_id is not None and exec_id in self.executions:
            self.executions[exec_id].setdefault("accs", set()).add(acc_id)

    def _task(self, e: dict) -> None:
        info, metrics = e["Task Info"], e.get("Task Metrics") or {}
        st = self.stages.setdefault(e["Stage ID"], {"tasks": [], "job": None})
        shuffle = metrics.get("Shuffle Write Metrics", {})
        st["tasks"].append({
            "launch": info["Launch Time"], "finish": info["Finish Time"],
            "shuffle_write": shuffle.get("Shuffle Bytes Written", 0),
            "disk_spill": metrics.get("Disk Bytes Spilled", 0),
        })
        exec_id = self.jobs.get(st.get("job"), {}).get("execution")
        for acc in info.get("Accumulables", []):
            if acc.get("Metadata") == "sql":
                self._accum(acc["ID"], acc.get("Update"), exec_id)

    # -- window queries --------------------------------------------------
    def executions_in(self, start: float, end: float) -> list[dict]:
        lo, hi = start * 1000, end * 1000
        return [x for _i, x in sorted(self.executions.items())
                if lo <= x["start"] <= hi]

    def jobs_in(self, start: float, end: float) -> list[tuple[int, dict]]:
        lo, hi = start * 1000, end * 1000
        return [(j, x) for j, x in sorted(self.jobs.items()) if lo <= x["start"] <= hi]

    def sql_metrics(self, executions: list[dict], names: dict[str, str]) -> dict[str, float]:
        """Sum of the named SQL metrics over ``executions``, in seconds
        for timings and bytes for sizes."""
        out = {k: 0.0 for k in names.values()}
        for acc in set().union(*(x.get("accs", set()) for x in executions)):
            name, mtype = self.metric_defs.get(acc, ("", ""))
            if name in names:
                scale = {"timing": 1e-3, "nsTiming": 1e-9}.get(mtype, 1.0)
                out[names[name]] += self.metric_values.get(acc, 0.0) * scale
        return out

    def task_stats(self, start: float, end: float, cores: int) -> dict:
        """Task-level totals over the Spark jobs started in the window."""
        stage_ids = {s for _j, x in self.jobs_in(start, end) for s in x["stages"]}
        busy = slots = shuffle = spill = 0.0
        n_tasks = 0
        for sid in stage_ids:
            st = self.stages.get(sid, {})
            if not st.get("tasks") or st.get("submit") is None or st.get("complete") is None:
                continue   # skipped stage (shuffle reuse) or never ran
            slots += (st["complete"] - st["submit"]) * cores
            for t in st["tasks"]:
                busy += t["finish"] - t["launch"]
                shuffle += t["shuffle_write"]
                spill += t["disk_spill"]
                n_tasks += 1
        return {"tasks": n_tasks, "busy_ms": busy, "slot_ms": slots,
                "shuffle_write": shuffle, "disk_spill": spill}

    def child_spans(self, tracer: Tracer, parent: int, start: float, end: float,
                    run_id: str) -> None:
        """Spark jobs in the window as children of ``parent``, their
        stages as children of the job."""
        for jid, x in self.jobs_in(start, end):
            if x["end"] is None:
                continue
            js = tracer.add(f"spark.job.{jid}", x["start"] / 1000, x["end"] / 1000,
                            parent, run_id, execution=x["execution"])
            for sid in x["stages"]:
                st = self.stages.get(sid, {})
                if st.get("submit") is not None and st.get("complete") is not None:
                    tracer.add(f"spark.stage.{sid}", st["submit"] / 1000,
                               st["complete"] / 1000, js, run_id, tasks=len(st["tasks"]))
