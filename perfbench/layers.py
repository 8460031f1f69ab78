"""Layer tracing for the benchmark's traced run.

Everything here works from outside the package:

- ``Tracer.install`` wraps the public functions of the operator modules
  (and every module attribute that names the same function object, such as
  the names ``__spark_entry__`` imports directly) to record self time and
  call counts per module;
- it counts py4j ``send_command`` round trips and their time;
- ``Tracer.begin``/``end`` bracket build, plan and execute, each in a Spark
  job group named ``<workload>|<pass>|<query>|<phase>``;
- ``layer_metrics`` joins those spans with the stage, task and Python SQL
  metrics of Spark's event log, which the runner enables for this run only.

Spans stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import operator
import os
import shutil
import statistics
import sys
import time
from collections import defaultdict

PKG = "datafusion_bio_functions_spark"

#: Operator-construction layer: short name -> module.
OPERATOR_MODULES = {
    "intervals": f"{PKG}.operators.intervals",
    "pileup": f"{PKG}.operators.pileup",
    "vep": f"{PKG}.operators.vep",
    "consequence": f"{PKG}.functions.consequence",
    "alleles": f"{PKG}.functions.alleles",
    "dedup": f"{PKG}.operators.dedup",
    "similarity": f"{PKG}.operators.similarity",
    "text": f"{PKG}.functions.text",
    "multimodal": f"{PKG}.operators.multimodal",
    "packing": f"{PKG}.operators.packing",
    "sampling": f"{PKG}.operators.sampling",
    "sessions": f"{PKG}.operators.sessions",
    "decontam": f"{PKG}.operators.decontam",
}

#: SQL metric names Spark gives the Python-worker exec nodes.
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"

MB = 1024.0 * 1024.0


class Tracer:
    def __init__(self, spark, workload: str):
        self.spark = spark
        self.workload = workload
        self.key = None  # (pass, query, phase) while a phase is open
        self.stack: list[list] = []  # [module, start, child_time]
        # (pass, query, phase) -> counters
        self.spans: dict[tuple, dict] = defaultdict(lambda: defaultdict(float))
        self._undo: list = []

    # -- operator modules --------------------------------------------------
    def enter(self, short: str) -> list:
        frame = [short, time.perf_counter(), 0.0]
        self.stack.append(frame)
        return frame

    def leave(self, frame: list) -> None:
        self.stack.pop()
        total = time.perf_counter() - frame[1]
        if self.stack:
            self.stack[-1][2] += total
        if self.key is not None:
            span = self.spans[self.key]
            span[f"{frame[0]}.self_s"] += total - frame[2]
            span[f"{frame[0]}.calls"] += 1

    def install(self) -> None:
        originals = {}
        for short, modname in OPERATOR_MODULES.items():
            mod = importlib.import_module(modname)
            for name, obj in vars(mod).items():
                if (
                    not name.startswith("_")
                    and inspect.isfunction(obj)
                    and obj.__module__ == modname
                ):
                    originals[id(obj)] = _Traced(self, short, obj)
        # rebind every module attribute that names a wrapped function, so
        # calls through re-exports and ``from x import f`` names are seen
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if not (name.startswith(PKG) or name == "__spark_entry__"):
                continue
            for attr, obj in list(vars(mod).items()):
                traced = originals.get(id(obj))
                if traced is not None:
                    setattr(mod, attr, traced)
                    self._undo.append((mod, attr, obj))
        client = self.spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted_send(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return send(*args, **kwargs)
            finally:
                if self.key is not None:
                    dt = time.perf_counter() - t0
                    span = self.spans[self.key]
                    span["py4j.calls"] += 1
                    span["py4j.s"] += dt
                    # a round trip outside every operator module is not in
                    # any module's self time
                    if not self.stack:
                        span["py4j.outside_s"] += dt

        client.send_command = counted_send
        self._undo.append((client, "send_command", None))

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._undo):
            if orig is None:
                delattr(obj, attr)
            else:
                setattr(obj, attr, orig)
        self._undo.clear()

    # -- phases ------------------------------------------------------------
    def group(self, pass_no: int, query: str, phase: str) -> str:
        return f"{self.workload}|{pass_no}|{query}|{phase}"

    def begin(self, pass_no: int, query: str, phase: str) -> None:
        self.spark.sparkContext.setJobGroup(self.group(pass_no, query, phase), phase)
        self.key = (pass_no, query, phase)
        self._t0 = time.perf_counter()

    def end(self, **extra) -> None:
        span = self.spans[self.key]
        span["wall_s"] += time.perf_counter() - self._t0
        for k, v in extra.items():
            span[k] += v
        self.key = None
        self.spark.sparkContext.setJobGroup("idle", "idle")


class _Traced:
    """Call-through wrapper that records a module span around each call.

    Some operator modules register themselves with cloudpickle to be
    pickled by value, so a UDF body that names a wrapped function would
    ship the wrapper (and the tracer, and the session) to the workers.
    Pickling a wrapper therefore yields the plain function."""

    def __init__(self, tracer: Tracer, short: str, fn):
        functools.update_wrapper(self, fn)
        self._tracer, self._short, self._fn = tracer, short, fn

    def __call__(self, *args, **kwargs):
        frame = self._tracer.enter(self._short)
        try:
            return self._fn(*args, **kwargs)
        finally:
            self._tracer.leave(frame)

    def __reduce__(self):
        # stdlib callable, so the workers need nothing from this module
        return operator.itemgetter(0), ((self._fn,),)


def plan_exchanges(df) -> int:
    """Exchanges (shuffle and broadcast) in the query's physical plan."""
    text = df._jdf.queryExecution().executedPlan().toString()
    return sum(
        1
        for line in text.splitlines()
        if line.lstrip(" +-:*").split(" ", 1)[0] in ("Exchange", "BroadcastExchange")
    )


# -- event log -------------------------------------------------------------
def take_event_log(log_dir: str, app_id: str) -> list[dict]:
    """Read the application's event log, then delete it."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if app_id in os.path.basename(p)]
    events = []
    for p in paths:
        for path in sorted(glob.glob(os.path.join(p, "events_*"))) if os.path.isdir(p) else [p]:
            with open(path) as fh:
                for line in fh:
                    try:
                        events.append(json.loads(line))
                    except ValueError:
                        pass
        if os.path.isdir(p):
            shutil.rmtree(p)
        else:
            os.remove(p)
    return events


def _stage_rows(events: list[dict]) -> tuple[dict, dict]:
    """job id -> group and times; stage id -> its group and task summaries.

    A stage belongs to the job group it ran in, so a shuffle a probe job
    wrote and the query's own job later skips is counted once, in build."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id", ""),
                "start": e.get("Submission Time", 0),
                "end": e.get("Submission Time", 0),
            }
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e.get("Completion Time", 0)
        elif kind == "SparkListenerStageSubmitted":
            stages.setdefault(e["Stage Info"]["Stage ID"], {
                "group": (e.get("Properties") or {}).get("spark.jobGroup.id", ""),
                "run_ms": [], "gc_ms": 0, "shuffle_w": 0, "fetch_ms": 0, "spill": 0,
                "records": 0, "failures": 0, "py_sent": 0, "py_returned": 0, "python": False,
            })
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stages:
            st = stages[e["Stage ID"]]
            tm = e.get("Task Metrics") or {}
            st["run_ms"].append(tm.get("Executor Run Time", 0))
            st["gc_ms"] += tm.get("JVM GC Time", 0)
            shuffle_write = tm.get("Shuffle Write Metrics") or {}
            st["shuffle_w"] += shuffle_write.get("Shuffle Bytes Written", 0)
            st["fetch_ms"] += (tm.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0)
            st["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            st["records"] += (tm.get("Input Metrics") or {}).get("Records Read", 0)
            if (e.get("Task End Reason") or {}).get("Reason", "Success") != "Success":
                st["failures"] += 1
            for acc in (e.get("Task Info") or {}).get("Accumulables") or []:
                name = acc.get("Name")
                if name in (PY_SENT, PY_RETURNED):
                    st["python"] = True
                    key = "py_sent" if name == PY_SENT else "py_returned"
                    try:
                        st[key] += int(acc.get("Update", 0))
                    except (TypeError, ValueError):
                        pass
    return jobs, stages


def _union_s(intervals: list) -> float:
    """Seconds covered by the union of (start_ms, end_ms) intervals."""
    total, reach = 0, None
    for start, end in sorted(intervals):
        if reach is None or start > reach:
            total += end - start
            reach = end
        elif end > reach:
            total += end - reach
            reach = end
    return total / 1000.0


def _skew(run_ms: list) -> float:
    med = statistics.median(run_ms)
    return max(run_ms) / med if med > 0 else 1.0


def layer_metrics(tracer: Tracer, events: list[dict], cores: int, out_rows: dict,
                  pass_walls: dict) -> tuple[dict, list]:
    """Per-pass layer sums (median over traced passes) and per-query rows."""
    jobs, stages = _stage_rows(events)
    by_group: dict[str, list] = defaultdict(list)
    for job in jobs.values():
        by_group[job["group"]].append(job)

    rows = []
    for (pass_no, query, phase), span in sorted(tracer.spans.items()):
        row = {"workload": tracer.workload, "pass": pass_no, "query": query, "phase": phase}
        row.update({k: round(v, 6) for k, v in span.items()})
        group = tracer.group(pass_no, query, phase)
        group_jobs = by_group.get(group, [])
        sids = [s for s, st in stages.items() if st["group"] == group and st["run_ms"]]
        row["jobs"] = len(group_jobs)
        row["job_s"] = sum(j["end"] - j["start"] for j in group_jobs) / 1000.0
        row["job_wall_s"] = _union_s([(j["start"], j["end"]) for j in group_jobs])
        row["stages"] = len(sids)
        row["tasks"] = sum(len(stages[s]["run_ms"]) for s in sids)
        row["task_s"] = sum(sum(stages[s]["run_ms"]) for s in sids) / 1000.0
        row["gc_s"] = sum(stages[s]["gc_ms"] for s in sids) / 1000.0
        row["shuffle_write_mb"] = sum(stages[s]["shuffle_w"] for s in sids) / MB
        row["fetch_wait_s"] = sum(stages[s]["fetch_ms"] for s in sids) / 1000.0
        row["spill_mb"] = sum(stages[s]["spill"] for s in sids) / MB
        row["records_read"] = sum(stages[s]["records"] for s in sids)
        row["task_failures"] = sum(stages[s]["failures"] for s in sids)
        # skew over stages with enough work for the ratio to mean something
        big = [s for s in sids if len(stages[s]["run_ms"]) > 1 and sum(stages[s]["run_ms"]) >= 50]
        row["task_skew"] = max((_skew(stages[s]["run_ms"]) for s in big), default=1.0)
        py = [s for s in sids if stages[s]["python"]]
        row["py_stages"] = len(py)
        row["py_task_s"] = sum(sum(stages[s]["run_ms"]) for s in py) / 1000.0
        row["py_mb_to_worker"] = sum(stages[s]["py_sent"] for s in py) / MB
        row["py_mb_from_worker"] = sum(stages[s]["py_returned"] for s in py) / MB
        rows.append(row)

    per_pass: dict[int, dict] = {}
    for row in rows:
        m = per_pass.setdefault(row["pass"], defaultdict(float))
        ph = row["phase"]
        m[f"{ph}.s"] += row.get("wall_s", 0.0)
        if ph == "build":
            # construction round trips; a probe job blocks its call, so
            # py4j.s includes build.job_s
            m["py4j.calls"] += row.get("py4j.calls", 0.0)
            m["py4j.s"] += row.get("py4j.s", 0.0)
            m["build.jobs"] += row["jobs"]
            m["build.job_s"] += row["job_s"]
            mod_self = 0.0
            for short in OPERATOR_MODULES:
                m[f"{short}.build_s"] += row.get(f"{short}.self_s", 0.0)
                m[f"{short}.calls"] += row.get(f"{short}.calls", 0.0)
                mod_self += row.get(f"{short}.self_s", 0.0)
            # driver Python outside the operator modules and outside py4j
            # (the query builders themselves); no layer explains it
            m["build.unaccounted_s"] += (
                row.get("wall_s", 0.0) - mod_self - row.get("py4j.outside_s", 0.0)
            )
        elif ph == "plan":
            m["plan.exchanges"] += row.get("exchanges", 0.0)
        else:
            m["exec.jobs"] += row["jobs"]
            m["exec.job_wall_s"] += row["job_wall_s"]
            # driver time in the write outside every Spark job: planning
            # the write again, AQE re-optimisation between stages, commit
            m["exec.unaccounted_s"] += row.get("wall_s", 0.0) - row["job_wall_s"]
            for k in ("stages", "tasks", "task_s", "gc_s", "shuffle_write_mb",
                      "fetch_wait_s", "spill_mb", "task_failures"):
                m[f"exec.{k}"] += row[k]
            m["exec.task_skew"] = max(m["exec.task_skew"], row["task_skew"])
            m["_records"] += row["records_read"]
            m["_out_rows"] += out_rows.get(row["query"], 0)
            m["py.stages"] += row["py_stages"]
            m["py.task_s"] += row["py_task_s"]
            m["py.mb_to_worker"] += row["py_mb_to_worker"]
            m["py.mb_from_worker"] += row["py_mb_from_worker"]
    for pass_no, m in per_pass.items():
        m["exec.core_util"] = m["exec.task_s"] / (m["exec.s"] * cores) if m["exec.s"] > 0 else 0.0
        m["exec.rows_read_per_out"] = m.pop("_records") / max(1.0, m.pop("_out_rows"))
        m["trace.pass_s"] = pass_walls[pass_no]
        # the three phases tile the pass up to the job-group calls between
        # them, so the pass-level remainder adds only that gap to the parts
        # measured against independent clocks (module and py4j timers in
        # build, the event log's job intervals in exec)
        phase_gap = pass_walls[pass_no] - (m["build.s"] + m["plan.s"] + m["exec.s"])
        m["trace.unaccounted_s"] = m["build.unaccounted_s"] + m["exec.unaccounted_s"] + phase_gap
    keys = sorted({k for m in per_pass.values() for k in m})
    summary = {k: statistics.median(m.get(k, 0.0) for m in per_pass.values()) for k in keys}
    return summary, rows
