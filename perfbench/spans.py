"""Spans around the engine's public functions, and per-span Spark counters
read back from Spark's own event log.

A span records its name, start, end and parent, and sets the Spark job
group to ``<name>#<span id>`` for its duration, so every job, stage and
task in the event log can be attributed to the innermost span that was
open when it ran.  Spans live in memory and are written as JSONL at the
end of the run.

Lazy layers: a DataFrame-returning function does no work until an action
runs, so wrapping it alone would attribute nothing.  ``Tracer.wrap`` forces
the output at the layer boundary (persist + noop write) inside the span;
that changes the physical plan (the consumer reads a cached frame), which
is why the traced run is separate from the untraced one.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._forced: list = []
        self._patched: list[tuple] = []

    def _set_group(self, group: str | None) -> None:
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty(GROUP_KEY, None)
        else:
            sc.setJobGroup(group, group.split("#")[0])

    def group_of(self, sid: int) -> str:
        return f"{self.spans[sid]['name']}#{sid}"

    @contextmanager
    def span(self, name: str):
        """Record a span; a no-op unless tracing."""
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(self.group_of(sid))
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self.group_of(self._stack[-1]) if self._stack else None)

    def force(self, df):
        """Materialize ``df`` at a layer boundary and keep it cached, so the
        next layer's span measures only its own work."""
        df.persist()
        df.write.format("noop").mode("overwrite").save()
        self._forced.append(df)
        return df

    def release(self) -> None:
        """Unpersist every frame forced since the last release."""
        for df in self._forced:
            df.unpersist()
        self._forced = []

    def wrap(self, module, attr: str, name: str, force: bool = True) -> None:
        """Replace ``module.attr`` with a spanned (and, for DataFrame
        results, forced) version until :meth:`unwrap_all`."""
        from pyspark.sql import DataFrame

        orig = getattr(module, attr)

        def wrapped(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
                if force and isinstance(out, DataFrame):
                    self.force(out)
            return out

        setattr(module, attr, wrapped)
        self._patched.append((module, attr, orig))

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched = []

    def write_jsonl(self, path: str, t0: float) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**s, "start": s["start"] - t0, "end": s["end"] - t0}) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


# ------------------------------------------------------------ event log

EVENTLOG_CONFS = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

_PY_METRICS = {
    "time to start Python workers": "python_start_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "bytes_to_python",
}


def _empty_counters() -> dict:
    return {
        "jobs": 0, "stages": 0, "tasks": 0, "task_cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_write_bytes": 0, "spill_bytes": 0, "fetch_wait_s": 0.0,
        "stage_s": 0.0, "max_stage_tasks": 0,
        **{v: 0 for v in _PY_METRICS.values()},
    }


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per-job-group Spark counters from the (stopped) application's event
    log: jobs, stages, tasks, executor CPU, GC, shuffle write, spill, fetch
    wait, stage wall and Python-worker SQL metrics.  Stdlib JSON only."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def grp(g: str | None) -> dict:
        return out.setdefault(g or "", _empty_counters())

    for path in paths:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e.get("Event", "")
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    g = props.get(GROUP_KEY) or ""
                    grp(g)["jobs"] += 1
                    for sid in e.get("Stage IDs", []):
                        stage_group[sid] = g
                elif ev == "SparkListenerTaskEnd":
                    tm = e.get("Task Metrics") or {}
                    c = grp(stage_group.get(e["Stage ID"]))
                    c["tasks"] += 1
                    c["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    c["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    c["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    c["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    c["fetch_wait_s"] += (tm.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0) / 1e3
                elif ev == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    c = grp(stage_group.get(si["Stage ID"]))
                    c["stages"] += 1
                    if si.get("Submission Time") and si.get("Completion Time"):
                        c["stage_s"] += (si["Completion Time"] - si["Submission Time"]) / 1e3
                    accs = {a.get("Name"): a.get("Value") for a in si.get("Accumulables", [])}
                    py = False
                    for name, key in _PY_METRICS.items():
                        if name in accs:
                            c[key] += int(accs[name])
                            py = True
                    if py:
                        c["max_stage_tasks"] = max(c["max_stage_tasks"], si.get("Number of Tasks", 0))
    return out


def counters_by_name(groups: dict[str, dict]) -> dict[str, dict]:
    """Fold ``<name>#<id>`` job groups into per-span-name totals."""
    out: dict[str, dict] = {}
    for g, c in groups.items():
        name = g.split("#")[0]
        acc = out.setdefault(name, _empty_counters())
        for k, v in c.items():
            acc[k] = max(acc[k], v) if k == "max_stage_tasks" else acc[k] + v
    return out
