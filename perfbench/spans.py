"""Spans around calls into the engine's layers, and the Spark event log
parsed per span.

A span records name, start, end, parent span and run id. Spans are kept in
memory and written out once, when the run ends. Every span also sets a
Spark job group, so each Spark job (and through it each stage and task)
belongs to the innermost span open when it was submitted; `attach_event_log`
then sums the event log's task metrics per span.

Nothing in the engine is edited: `patched` swaps the public functions of
the layers for timing wrappers and restores them on exit.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import time


class Tracer:
    def __init__(self, run_id: str, spark_context):
        self.run_id = run_id
        self.sc = spark_context
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sid: int | None) -> None:
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"{self.run_id}:{sid}", self.spans[sid]["name"])

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # --- queries over finished spans -------------------------------------
    @staticmethod
    def wall(rec: dict) -> float:
        return rec["end"] - rec["start"]

    def find(self, name: str, parent: dict | None = None) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and (parent is None or s["parent"] == parent["id"])
        ]

    def descendants(self, rec: dict) -> set[int]:
        out = {rec["id"]}
        for s in self.spans:  # spans are appended in start order
            if s["parent"] in out:
                out.add(s["id"])
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f, indent=1)


# The layers' public entry points, as (module, attribute, span name). Call
# sites that import a function by name are patched in the importing module.
PATCH_POINTS = (
    ("pii_redaction_data_pipeline_spark.plans.pipeline", "run_pipeline", "plans.run_pipeline"),
    ("pii_redaction_data_pipeline_spark.plans.pipeline", "annotate", "plans.annotate"),
    ("pii_redaction_data_pipeline_spark.plans.pipeline", "make_annotate_udf", "functions.make_annotate_udf"),
    ("pii_redaction_data_pipeline_spark.plans.pipeline", "with_conversation_flags", "operators.windows"),
    ("pii_redaction_data_pipeline_spark.plans.pipeline", "tune_shuffle_partitions", "plans.tune_shuffle_partitions"),
    ("pii_redaction_data_pipeline_spark.operators.skew", "salted_repartition", "operators.skew"),
    ("pii_redaction_data_pipeline_spark.plans.curate", "conversation_verdict", "operators.conv_verdict"),
    ("pii_redaction_data_pipeline_spark.plans.curate", "dedup_survivor_convs", "operators.dedup"),
    ("pii_redaction_data_pipeline_spark.plans.curate", "deterministic_sample", "operators.sample"),
    ("pii_redaction_data_pipeline_spark.operators.packing", "pack_sequences", "operators.packing"),
)
METHOD_POINTS = (
    ("pii_redaction_data_pipeline_spark.sources.tables", "TableIO", "read", "sources.read"),
    ("pii_redaction_data_pipeline_spark.sources.tables", "TableIO", "write_bucketed", "sources.write_bucketed"),
    ("pii_redaction_data_pipeline_spark.sources.lineage", "LineageStore", "append", "sources.lineage_append"),
    ("pii_redaction_data_pipeline_spark.sources.lineage", "LineageStore", "read", "sources.lineage_read"),
)


@contextlib.contextmanager
def patched(tracer: Tracer):
    import importlib

    saved = []
    try:
        for mod_name, attr, span in PATCH_POINTS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            saved.append((mod, attr, orig))
            setattr(mod, attr, tracer.wrap(span, orig))
        for mod_name, cls_name, attr, span in METHOD_POINTS:
            cls = getattr(importlib.import_module(mod_name), cls_name)
            orig = cls.__dict__[attr]
            saved.append((cls, attr, orig))
            setattr(cls, attr, tracer.wrap(span, orig))
        yield tracer
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


# --- Spark event log --------------------------------------------------------

SUMMED_FIELDS = (
    "executor_run_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "input_bytes", "output_bytes",
)


def read_event_log(path: str):
    """-> (stage -> job group, [task records]) from one event-log file."""
    stage_group: dict[int, str | None] = {}
    tasks = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics", {})
                sw = m.get("Shuffle Write Metrics", {})
                tasks.append({
                    "stage": ev["Stage ID"],
                    "time_s": (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3,
                    "executor_run_s": m.get("Executor Run Time", 0) / 1e3,
                    "gc_s": m.get("JVM GC Time", 0) / 1e3,
                    "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                    "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
                    "output_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
                })
    return stage_group, tasks


def attach_event_log(tracer: Tracer, path: str) -> None:
    """Add the event log's per-task metrics to every span, summed over the
    jobs of the span and of its descendants. `task_max_s`/`task_median_s`
    and `reduce_task_skew` describe the task-time spread; the reduce side
    is the tasks that read shuffle data."""
    stage_group, tasks = read_event_log(path)
    by_group: dict[str, list[dict]] = {}
    for t in tasks:
        group = stage_group.get(t["stage"])
        if group is not None:
            by_group.setdefault(group, []).append(t)
    for rec in tracer.spans:
        mine = [
            t for sid in tracer.descendants(rec)
            for t in by_group.get(f"{tracer.run_id}:{sid}", [])
        ]
        for k in SUMMED_FIELDS:
            rec[k] = sum(t[k] for t in mine)
        times = [t["time_s"] for t in mine]
        reduce_times = [t["time_s"] for t in mine if t["shuffle_read_bytes"] > 0]
        rec["tasks"] = len(mine)
        rec["task_max_s"] = max(times) if times else None
        rec["task_median_s"] = statistics.median(times) if times else None
        reduce_median = statistics.median(reduce_times) if reduce_times else 0
        rec["reduce_task_skew"] = (
            max(reduce_times) / reduce_median if reduce_median > 0 else None
        )
