"""Tracing for the traced run: spans around calls into each layer, and a
reducer from Spark's own event log to one record per op.

Spans are recorded from outside the package. ``Tracer.install`` replaces
the public entry points of the layers with timing wrappers on their
module objects, so calls made inside a module to its own functions are
timed too. Nothing is written until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time


class Tracer:
    """Collects spans (name, start, end, op) in memory."""

    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float, int | None]] = []
        self.op: int | None = None
        self._undo: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.time(), self.op))

    def wrap(self, fn, name):
        """``name`` is a string, or a function of the call's arguments
        returning one."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name if isinstance(name, str) else name(*args, **kwargs)):
                return fn(*args, **kwargs)

        return traced

    def _patch(self, owner, attr: str, name) -> None:
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(orig, name))

    def install(self) -> None:
        from spark_etl_framework_spark.plans import builder, registry
        from spark_etl_framework_spark.plans.runner import PipelineRunner
        from spark_etl_framework_spark.queries import pipelines
        from spark_etl_framework_spark.sources import deltalog, iceberg

        alias_of = {path: alias for alias, path in registry._BUILTIN.items()}
        build = builder.build_pipeline

        def build_and_wrap_actors(*args, **kwargs):
            with self.span("plans.build"):
                pipeline = build(*args, **kwargs)
            for job in pipeline.jobs:
                for action in job.actions:
                    cls = type(action.actor)
                    alias = alias_of.get(f"{cls.__module__}.{cls.__qualname__}", cls.__name__)
                    action.actor.run = self.wrap(action.actor.run, f"actor.{alias}")
            return pipeline

        for mod in (builder, pipelines):
            self._undo.append((mod, "build_pipeline", mod.build_pipeline))
            mod.build_pipeline = build_and_wrap_actors
        self._patch(PipelineRunner, "run", "plans.run")

        def delta_write_kind(df, path, mode="append", *a, **k):
            return f"delta.commit.{'append' if mode == 'append' else 'overwrite'}"

        self._patch(deltalog, "write_delta", delta_write_kind)
        self._patch(deltalog, "merge_upsert", "delta.commit.merge")
        self._patch(deltalog, "delete_where", "delta.commit.delete")
        self._patch(deltalog, "snapshot", "delta.snapshot")
        self._patch(deltalog, "read_delta", "delta.read_plan")
        self._patch(iceberg, "write_iceberg", "iceberg.commit.append")
        self._patch(iceberg, "merge_upsert", "iceberg.commit.merge")
        self._patch(iceberg, "delete_where", "iceberg.commit.delete")
        self._patch(iceberg, "load_metadata", "iceberg.load_metadata")
        self._patch(iceberg, "read_iceberg", "iceberg.read_plan")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------

_SQL = "org.apache.spark.sql.execution.ui."
#: SQL metric name -> per-op record key
_SQL_METRICS = {
    "size of files read": "spark.scan_bytes",
    "time to run Python workers": "pyworker.run_s",
    "data sent to Python workers": "pyworker.bytes_sent",
    "data returned from Python workers": "pyworker.bytes_returned",
}


def _plan_metrics(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = (m["name"], m.get("metricType", "sum"))
    for child in plan.get("children", []):
        _plan_metrics(child, out)


def _scaled(value: float, metric_type: str) -> float:
    if metric_type == "timing":
        return value / 1e3
    if metric_type == "nsTiming":
        return value / 1e9
    return value


def parse_event_logs(
    log_dir: str, windows: list[tuple[float, float]], groups: list[str]
) -> tuple[list[dict], list[float]]:
    """Reduce every event log in ``log_dir`` to one dict of Spark and
    Python-worker counters per op. Also returns every job's submission
    time (epoch seconds), to count the jobs inside any span.

    ``windows[i]`` is op i's (start, end) in epoch seconds and
    ``groups[i]`` the job group set for it. A job is attributed by its
    group, and a job without one (launched from another thread) by its
    submission time. Tasks, stages and SQL executions are attributed by
    their job or, failing that, by time.
    """
    recs = [
        {
            "spark.jobs": 0, "spark.stages": 0, "spark.tasks": 0,
            "spark.task_run_s": 0.0, "spark.task_cpu_s": 0.0, "spark.gc_s": 0.0,
            "spark.shuffle_read_bytes": 0, "spark.shuffle_write_bytes": 0,
            "spark.scan_bytes": 0, "spark.spill_bytes": 0, "spark.driver_s": 0.0,
            "pyworker.run_s": 0.0, "pyworker.bytes_sent": 0, "pyworker.bytes_returned": 0,
            "_job_intervals": [],
        }
        for _ in windows
    ]
    group_op = {g: i for i, g in enumerate(groups)}
    job_times: list[float] = []

    def op_at(t_ms: float) -> int | None:
        t = t_ms / 1e3
        for i, (a, b) in enumerate(windows):
            if a <= t <= b:
                return i
        return None

    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        job_op: dict[int, int | None] = {}
        job_start: dict[int, float] = {}
        stage_op: dict[int, int | None] = {}
        exec_op: dict[int, int | None] = {}
        accum: dict[int, tuple[str, str]] = {}
        last_accum: dict[int, tuple[int | None, float]] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    op = group_op.get(props.get("spark.jobGroup.id"))
                    if op is None:
                        op = op_at(ev["Submission Time"])
                    job_op[jid] = op
                    job_start[jid] = ev["Submission Time"]
                    job_times.append(ev["Submission Time"] / 1e3)
                    for sid in ev.get("Stage IDs", []):
                        stage_op.setdefault(sid, op)
                    if op is not None:
                        recs[op]["spark.jobs"] += 1
                elif kind == "SparkListenerJobEnd":
                    op = job_op.get(ev["Job ID"])
                    if op is not None:
                        recs[op]["_job_intervals"].append(
                            (job_start[ev["Job ID"]] / 1e3, ev["Completion Time"] / 1e3)
                        )
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    op = stage_op.get(info["Stage ID"])
                    if op is None and "Submission Time" in info:
                        op = op_at(info["Submission Time"])
                    if op is not None:
                        recs[op]["spark.stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    op = stage_op.get(ev["Stage ID"])
                    if op is None:
                        op = op_at(info["Launch Time"])
                    if op is None:
                        continue
                    r = recs[op]
                    r["spark.tasks"] += 1
                    tm = ev.get("Task Metrics") or {}
                    r["spark.task_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    r["spark.task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    r["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    sr = tm.get("Shuffle Read Metrics") or {}
                    r["spark.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    sw = tm.get("Shuffle Write Metrics") or {}
                    r["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    r["spark.spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                    for acc in info.get("Accumulables", []):
                        name, mtype = accum.get(acc.get("ID"), (acc.get("Name"), "sum"))
                        key = _SQL_METRICS.get(name)
                        if key and key != "spark.scan_bytes":
                            r[key] += _scaled(float(acc.get("Update") or 0), mtype)
                elif kind in (_SQL + "SparkListenerSQLExecutionStart", _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                    _plan_metrics(ev.get("sparkPlanInfo") or {}, accum)
                    if kind.endswith("Start"):
                        exec_op[ev["executionId"]] = op_at(ev["time"])
                elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                    op = exec_op.get(ev["executionId"])
                    for aid, value in ev.get("accumUpdates", []):
                        # the last update of an accumulator is its total
                        last_accum[aid] = (op, float(value))
        for aid, (op, value) in last_accum.items():
            name, mtype = accum.get(aid, (None, "sum"))
            if op is not None and _SQL_METRICS.get(name) == "spark.scan_bytes":
                recs[op]["spark.scan_bytes"] += _scaled(value, mtype)

    for rec, (a, b) in zip(recs, windows):
        covered = 0.0
        end = a
        for s, e in sorted(rec.pop("_job_intervals")):
            s, e = max(s, end), min(e, b)
            if e > s:
                covered += e - s
                end = e
        rec["spark.driver_s"] = max(0.0, (b - a) - covered)
    return recs, job_times
