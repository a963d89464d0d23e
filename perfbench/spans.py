"""Spans around the engine's layer entry points, and Spark's own counters.

Everything here is installed from the benchmark's side: the engine's
functions are wrapped where their callers look them up (the defining
module and every module that bound the name at import time), and
``SnapshotTable``'s commit methods are wrapped on the class. Spans stay
in memory; the run writes them out when it ends.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

#: span name -> per-layer metric its self time is reported under. Names
#: not listed here ("pass", "query") are the benchmark's own loop and
#: count as unattributed time.
LAYER_OF = {
    "configure_session": "session.configure_s",
    "build": "registry.build_s",
    "ensure_views": "catalog.ensure_views_s",
    "translate": "sql.translate_s",
    "spec_views": "sql.spec_views_s",
    "plan": "catalyst.plan_s",
    "execute": "spark.execute_s",
    "materialize": "pipeline.materialize_s",
    "commit": "snapshot.commit_s",
    "apply_delta": "ivm.apply_delta_s",
}

#: span name -> per-layer call counter.
CALLS_OF = {
    "configure_session": "session.configure_calls",
    "ensure_views": "catalog.ensure_views_calls",
    "translate": "sql.translate_calls",
    "materialize": "pipeline.materialize_calls",
    "commit": "snapshot.commits",
    "apply_delta": "ivm.apply_delta_calls",
}


class Tracer:
    """A span stack for the main thread; spans from other threads are skipped."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.enabled = False
        self._main = threading.main_thread()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled or threading.current_thread() is not self._main:
            yield None
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield idx
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def _rebind(original, wrapper) -> int:
    """Point every engine module's binding of ``original`` at ``wrapper``."""
    n = 0
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("cloudberry_spark") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, wrapper)
                n += 1
    return n


def install(tracer: Tracer) -> dict[str, int]:
    """Wrap every layer entry point; returns how many bindings each got."""
    from cloudberry_spark.catalog import ensure_views
    from cloudberry_spark.pipeline.graph import _materialize
    from cloudberry_spark.session import configure_session
    from cloudberry_spark.sources.snapshot import SnapshotTable
    from cloudberry_spark.sql.pgcompat import translate_pg_sql
    from cloudberry_spark.sql.scale_fixture import spec_views
    from cloudberry_spark.streaming.ivm import apply_delta

    bound = {}
    for name, fn in (
        ("configure_session", configure_session),
        ("ensure_views", ensure_views),
        ("translate", translate_pg_sql),
        ("spec_views", spec_views),
        ("materialize", _materialize),
        ("apply_delta", apply_delta),
    ):
        bound[name] = _rebind(fn, tracer.wrap(name, fn))
    commits = [m for m in vars(SnapshotTable) if m.startswith("commit_")]
    for meth in commits:
        setattr(SnapshotTable, meth, tracer.wrap("commit", getattr(SnapshotTable, meth)))
    bound["commit"] = len(commits)
    return bound


def codegen_counters(spark) -> tuple[int, float]:
    """(compiles so far, mean compile ms over the JVM's recent reservoir)."""
    hist = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    return int(hist.getCount()), float(hist.getSnapshot().getMean())


def event_log_conf(log_dir: str) -> list[str]:
    return [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir=file://{log_dir}",
        "--conf", "spark.eventLog.compress=false",
        "--conf", "spark.eventLog.rolling.enabled=false",
    ]


_TASK_FIELDS = {
    "executor.deser_s": ("Executor Deserialize Time", 1e-3),
    "executor.run_s": ("Executor Run Time", 1e-3),
    "executor.cpu_s": ("Executor CPU Time", 1e-9),
    "executor.gc_s": ("JVM GC Time", 1e-3),
}


def parse_event_logs(log_dir: str) -> dict[str, dict]:
    """Per job-description tag: job intervals and summed task metrics.

    Returns {tag: {"jobs": n, "stages": n, "tasks": n, "job_spans":
    [(start_s, end_s)], metric: value}} with times in epoch seconds.
    """
    out: dict[str, dict] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        job_tag: dict[int, str] = {}
        job_start: dict[int, float] = {}
        stage_tag: dict[int, str] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    tag = (ev.get("Properties") or {}).get("spark.job.description")
                    if tag:
                        job_tag[ev["Job ID"]] = tag
                        job_start[ev["Job ID"]] = ev["Submission Time"] / 1e3
                        _acc(out, tag)["jobs"] += 1
                elif kind == "SparkListenerJobEnd":
                    tag = job_tag.get(ev["Job ID"])
                    if tag:
                        _acc(out, tag)["job_spans"].append(
                            (job_start[ev["Job ID"]], ev["Completion Time"] / 1e3)
                        )
                elif kind == "SparkListenerStageSubmitted":
                    tag = (ev.get("Properties") or {}).get("spark.job.description")
                    if tag:
                        stage_tag[ev["Stage Info"]["Stage ID"]] = tag
                        _acc(out, tag)["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    tag = stage_tag.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if tag and m:
                        acc = _acc(out, tag)
                        acc["tasks"] += 1
                        for key, (field, scale) in _TASK_FIELDS.items():
                            acc[key] += m.get(field, 0) * scale
                        acc["scan.input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                        sr = m.get("Shuffle Read Metrics", {})
                        acc["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                            "Local Bytes Read", 0
                        )
                        acc["shuffle.write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                            "Shuffle Bytes Written", 0
                        )
                        acc["spill.bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                            "Disk Bytes Spilled", 0
                        )
    return out


def _acc(out: dict, tag: str) -> dict:
    if tag not in out:
        out[tag] = {
            "jobs": 0, "stages": 0, "tasks": 0, "job_spans": [],
            **{k: 0.0 for k in _TASK_FIELDS},
            "scan.input_bytes": 0, "shuffle.read_bytes": 0,
            "shuffle.write_bytes": 0, "spill.bytes": 0,
        }
    return out[tag]
