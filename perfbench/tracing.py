"""Spans around calls into the package's layers, and the Spark event-log
counters attributed to them.

Spans are recorded from outside the package: :func:`patched` swaps each
public layer function named in :data:`LAYER_CALLS` for a wrapper that opens
a span around the call, then restores the originals.  A span is (id, name,
parent, run id, start, end), kept in memory; the run writes them out once
at its end.

Every span that can submit Spark work sets the thread's job group to its
span id, so the event log ties every job, stage and task to the innermost
span that was open when it was submitted; :func:`read_event_log` folds the
task metrics and SQL accumulables of each job group into one counter dict.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import json
import os
import time
from collections import defaultdict

#: (module, attribute, span name, submits Spark jobs).  A function is patched
#: in every module that looks it up, because ``from x import f`` copies the
#: binding into the importing module.
LAYER_CALLS = [
    ("featureextraction_jl_spark.sources.tables", "read_transcripts",
     "sources.scan", True),
    ("featureextraction_jl_spark.sources.tables", "read_table",
     "sources.scan", True),
    ("featureextraction_jl_spark.sources.tables", "write_features",
     "sources.sink", True),
    ("featureextraction_jl_spark.plans.checkpoint", "build_turn_features",
     "operators", False),
    ("featureextraction_jl_spark.plans.feature_job", "build_turn_features",
     "operators", False),
    ("featureextraction_jl_spark.plans.checkpoint", "compute_moments",
     "functions.moments", True),
    ("featureextraction_jl_spark.plans.feature_job", "compute_moments",
     "functions.moments", True),
    ("featureextraction_jl_spark.plans.checkpoint", "fit_pca",
     "functions.pca.fit", False),
    ("featureextraction_jl_spark.plans.feature_job", "fit_pca",
     "functions.pca.fit", False),
    ("featureextraction_jl_spark.plans.windowed_pca", "fit_pca",
     "functions.pca.fit", False),
    ("featureextraction_jl_spark.plans.feature_job", "project_udf",
     "functions.pca.project", False),
    ("featureextraction_jl_spark.plans.checkpoint", "run_features",
     "plans.feature_job", True),
    ("featureextraction_jl_spark.plans.windowed_pca", "fit_windowed_pca",
     "plans.windowed_pca.fit", True),
    ("featureextraction_jl_spark.plans.windowed_pca", "project_windowed",
     "plans.windowed_pca.project", True),
    ("featureextraction_jl_spark.plans.salting", "salted_grouped_moments",
     "plans.salting", True),
    # the resumable runner writes each unit through the DataFrameWriter
    # directly, not through write_features
    ("pyspark.sql.readwriter", "DataFrameWriter.parquet",
     "sources.sink", True),
]


class Tracer:
    """In-memory span recorder bound to one SparkContext."""

    def __init__(self, sc, run_id: str):
        self.sc, self.run_id = sc, run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["id"], span["name"])

    @contextlib.contextmanager
    def span(self, name: str, submits_jobs: bool = True):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": f"{self.run_id}/{len(self.spans)}", "name": name,
               "parent": parent["id"] if parent else None,
               "run": self.run_id, "jobs": submits_jobs}
        self.spans.append(rec)
        self._stack.append(rec)
        if submits_jobs:
            self._set_group(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if submits_jobs:
                # restore the nearest enclosing span that owns a job group
                owner = next((s for s in reversed(self._stack) if s["jobs"]),
                             None)
                self._set_group(owner)

    def wrap(self, fn, name: str, submits_jobs: bool):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, submits_jobs):
                return fn(*args, **kwargs)
        return traced

    def descendants(self, root_id: str) -> list[dict]:
        """``root_id``'s span and every span below it."""
        ids, out = {root_id}, []
        for s in self.spans:  # parents are always recorded before children
            if s["id"] in ids or s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out


@contextlib.contextmanager
def patched(tracer: Tracer):
    """Route every call in LAYER_CALLS through a span while the block runs."""
    saved = []
    try:
        for mod_name, attr, name, jobs in LAYER_CALLS:
            owner = importlib.import_module(mod_name)
            *path, leaf = attr.split(".")
            for part in path:
                owner = getattr(owner, part)
            orig = owner.__dict__[leaf]
            saved.append((owner, leaf, orig))
            setattr(owner, leaf, tracer.wrap(orig, name, jobs))
        yield tracer
    finally:
        for owner, leaf, orig in reversed(saved):
            setattr(owner, leaf, orig)


def duration(spans: list[dict], name: str) -> float:
    """Summed duration of spans called ``name``; a span nested in another
    span of the same name is not counted twice."""
    by_id = {s["id"]: s for s in spans}

    def nested(s):
        p = by_id.get(s["parent"])
        while p is not None:
            if p["name"] == name:
                return True
            p = by_id.get(p["parent"])
        return False

    return sum(s["end"] - s["start"] for s in spans
               if s["name"] == name and not nested(s))


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

#: SQL accumulables of the Arrow/Python exec nodes -> counter name
_PY_ACCUMS = {
    "time to run Python workers": "python_run_ms",
    "time to start Python workers": "python_start_ms",
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_returned_bytes",
}


def _event_files(evdir: str) -> list[str]:
    paths = []
    for p in sorted(glob.glob(os.path.join(evdir, "*"))):
        if os.path.isdir(p):  # rolling layout: eventlog_v2_<app>/events_*
            paths.extend(sorted(glob.glob(os.path.join(p, "events_*"))))
        else:
            paths.append(p)
    return paths


def read_event_log(evdir: str) -> dict[str, dict[str, float]]:
    """Job group -> counters summed over its jobs' stages and tasks.

    Stages are attributed through the job group in their own submission
    properties, so a stage AQE submits as a separate job still lands on the
    span that caused it.  Jobs with no group fold into ``""``.
    """
    groups: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stage_group: dict[tuple[int, int], str] = {}
    for path in _event_files(evdir):
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a torn last line of an unfinished log
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    groups[g]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    si = ev["Stage Info"]
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    stage_group[(si["Stage ID"], si["Stage Attempt ID"])] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(
                        (ev["Stage ID"], ev["Stage Attempt ID"]), "")
                    c = groups[g]
                    c["tasks"] += 1
                    tm = ev.get("Task Metrics") or {}
                    c["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    c["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    c["result_bytes"] += tm.get("Result Size", 0)
                    c["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                         + tm.get("Disk Bytes Spilled", 0))
                    c["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics")
                                                 or {}).get("Shuffle Bytes Written", 0)
                    c["records_read"] += (tm.get("Input Metrics")
                                          or {}).get("Records Read", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        key = _PY_ACCUMS.get(acc.get("Name"))
                        if key is not None:
                            c[key] += float(acc.get("Update") or 0)
    return {g: dict(c) for g, c in groups.items()}


def sum_groups(counters: dict[str, dict[str, float]], ids) -> dict[str, float]:
    out: dict[str, float] = defaultdict(float)
    for g in ids:
        for k, v in counters.get(g, {}).items():
            out[k] += v
    return out
