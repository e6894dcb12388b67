"""Tracing for the benchmark's traced runs.

Spans are recorded from the benchmark's own files: the public functions
of each layer are wrapped where their caller looks them up (for example
``operators.archive.generate_breakdowns``, the name ``validate_archive``
calls, not only ``operators.breakdown.generate_breakdowns``).  Spans are
kept in memory and written out when the run ends.

Each span also tags the Spark jobs it starts with its own job group, so
the event log (written inside the run directory, parsed after the
session stops) attributes jobs, stages and task metrics to layers.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    """In-memory spans: name, start, end, parent, operation id."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._ids = itertools.count()  # next() is atomic: spans open on stream threads too
        self.op = None
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self.observations: list[tuple[int, object]] = []
        self.observed: dict[int, int] = {}

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        rec = {"id": next(self._ids), "name": name,
               "parent": stack[-1] if stack else None, "op": self.op,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(f"span-{rec['id']}", name)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            if prev_group is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(prev_group, "")

    def patch(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a wrapper that records a span."""
        original = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        traced.__wrapped__ = original
        setattr(module, attr, traced)
        self._patched.append((module, attr, original))

    def patch_observed(self, module, attr: str, name: str) -> None:
        """Like :meth:`patch`, for a function returning a DataFrame: the
        result also counts its rows with ``DataFrame.observe``, which the
        action that consumes it fills in without an extra job."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        original = getattr(module, attr)

        def observed(*args, **kwargs):
            with self.span(name) as rec:
                obs = Observation(f"{name}-{rec['id']}")
                self.observations.append((rec["id"], obs))
                return original(*args, **kwargs).observe(
                    obs, F.count(F.lit(1)).alias("rows"))

        observed.__wrapped__ = original
        setattr(module, attr, observed)
        self._patched.append((module, attr, original))

    def unpatch(self) -> None:
        for module, attr, original in reversed(self._patched):
            setattr(module, attr, original)
        self._patched.clear()

    def observed_rows(self, timeout: float = 10.0) -> dict[int, int]:
        """Rows counted by each observation, keyed by span id; an
        observation whose query never ran is left out."""
        out: dict[int, int] = {}
        for sid, obs in self.observations:
            box: dict = {}
            t = threading.Thread(target=lambda o=obs: box.update(o.get), daemon=True)
            t.start()
            t.join(timeout)
            if "rows" in box:
                out[sid] = int(box["rows"])
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children[s["id"]], key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if hi <= lo:
                continue
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


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

def _plan_metric_types(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = m.get("metricType", "")
    for child in node.get("children", []):
        _plan_metric_types(child, out)


def parse_event_log(log_dir: str) -> dict:
    """Jobs (submit time in epoch seconds, job group, stage ids) and
    per-stage task totals from the event log written under ``log_dir``."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    stage_submit: dict[int, float] = {}
    metric_types: dict[int, str] = {}
    python_updates: list[tuple[int, int, float]] = []
    for path in glob.glob(f"{log_dir}/*"):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = {
                        "submit": e["Submission Time"] / 1000.0,
                        "group": props.get("spark.jobGroup.id"),
                        "stages": e.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerStageSubmitted":
                    info = e["Stage Info"]
                    stage_submit[info["Stage ID"]] = info.get("Submission Time", 0) / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    stages[info["Stage ID"]]["completed"] = 1
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                        "SparkListenerSQLAdaptiveExecutionUpdate"):
                    _plan_metric_types(e.get("sparkPlanInfo", {}), metric_types)
                elif kind == "SparkListenerTaskEnd":
                    sid = e["Stage ID"]
                    info, m = e["Task Info"], e.get("Task Metrics") or {}
                    st = stages[sid]
                    st["tasks"] += 1
                    st["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    launch = info.get("Launch Time", 0) / 1000.0
                    if sid in stage_submit and launch:
                        st["wait_s"] += max(0.0, launch - stage_submit[sid])
                    st["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                 + sr.get("Local Bytes Read", 0))
                    for acc in info.get("Accumulables", []):
                        if acc.get("Name") == "time to run Python workers":
                            python_updates.append((sid, acc["ID"], float(acc.get("Update", 0))))
    for sid, acc_id, update in python_updates:
        scale = 1e9 if metric_types.get(acc_id) == "nsTiming" else 1e3
        stages[sid]["python_s"] += update / scale
    return {"jobs": jobs, "stages": stages}


SPARK_FIELDS = ("run_s", "cpu_s", "gc_s", "wait_s", "input_bytes",
                "shuffle_write_bytes", "shuffle_read_bytes", "python_s")


def spark_totals(log: dict, windows: list[tuple[float, float]]) -> dict:
    """Jobs, executed stages, tasks and task-metric sums of the jobs
    submitted inside any of ``windows`` (epoch seconds)."""
    out = dict.fromkeys(("jobs", "stages", "tasks") + SPARK_FIELDS, 0.0)
    seen_stages: set[int] = set()
    for job in log["jobs"].values():
        if not any(lo <= job["submit"] <= hi for lo, hi in windows):
            continue
        out["jobs"] += 1
        for sid in job["stages"]:
            st = log["stages"].get(sid)
            if sid in seen_stages or not st or not st.get("tasks"):
                continue  # skipped (reused) stages ran no tasks
            seen_stages.add(sid)
            out["stages"] += 1
            out["tasks"] += st["tasks"]
            for f in SPARK_FIELDS:
                out[f] += st.get(f, 0.0)
    return out


def jobs_by_group(log: dict) -> dict[str, int]:
    counts: dict[str, int] = defaultdict(int)
    for job in log["jobs"].values():
        if job["group"]:
            counts[job["group"]] += 1
    return counts
