"""Per-layer tracing from outside the engine.

Wrappers are installed on the module attributes through which each layer is
called; nothing inside ``bela_spark`` is edited. Each wrapper

* records a span (name, start, end, parent span, run id),
* sets the Spark job group to the span, so the event log ties every job to
  the innermost span that launched it,
* persists and counts what the layer returns, so the lazy work the layer
  described runs inside its span,
* restores the caller's job group.

Task metrics come from the uncompressed event log of the traced run
(``spark.eventLog.compress=false``). Jobs that only measure (counts made for
the report) run under ``MEASURE_GROUP`` and are attributed to no span.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import threading
import time

from bela_spark import pipeline, sources
from bela_spark.streaming import ingest

GROUP_KEY = "spark.jobGroup.id"
MEASURE_GROUP = "perfbench-measure"

# span name -> the (module, attribute) pairs it wraps
LAYERS = {
    "read_repo_files": [(sources, "read_repo_files")],
    "prepare_records": [(pipeline, "prepare_records"), (ingest, "prepare_records")],
    "run_linkage": [(pipeline, "run_linkage")],
    "blocking_keys": [(pipeline, "blocking_keys"), (ingest, "blocking_keys")],
    "pair_stage_features": [(pipeline, "pair_stage_features")],
    "weight_tokens_packed": [(pipeline, "weight_tokens_packed")],
    "fused_block_and_score": [(pipeline, "fused_block_and_score"), (ingest, "fused_block_and_score")],
    "dedup_scored": [(pipeline, "dedup_scored")],
    "accept_edges": [(pipeline, "accept_edges")],
    "connected_components": [(pipeline, "connected_components"), (ingest, "connected_components")],
    "process_batch": [(ingest.IncrementalLinkage, "process_batch")],
}
PAIR_STAGE = ("pair_stage_features", "fused_block_and_score", "dedup_scored", "accept_edges")
TASK_FIELDS = ("jobs", "tasks", "task_s", "max_task_s", "gc_s", "shuffle_write_mb", "spill_mb", "failed_tasks")


def _count(df) -> int:
    return df.persist().count()


def _materialize(name: str, out) -> dict:
    """Run the work a layer returned; report its output rows."""
    if name == "fused_block_and_score":
        out[1].persist().count()
        return {"rows_out": _count(out[0])}
    if name == "connected_components":
        return {"rows_out": _count(out.assignments), "rounds": out.rounds}
    if name == "run_linkage":
        out.scored.count()
        return {"rows_out": _count(out.clusters)}
    if name == "process_batch":
        return {}
    return {"rows_out": _count(out)}


class Tracer:
    """Spans kept in memory for one process; ``enabled`` switches the
    installed wrappers between tracing and a plain call-through."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.enabled = False
        self.run_id: int | None = None
        self._root: dict | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._saved: list[tuple] = []

    # -- spans ------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self._root
        with self._lock:
            span = {"id": len(self.spans), "name": name, "run": self.run_id,
                    "parent": parent["id"] if parent else None}
            self.spans.append(span)
        prev = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, f"span:{span['id']}")
        stack.append(span)
        span["start"] = time.perf_counter()
        try:
            yield span
        finally:
            span["end"] = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, prev)

    @contextlib.contextmanager
    def operation(self, run_id: int):
        """Root span of one timed operation; spans opened on other threads
        (the streaming foreachBatch callback) hang under it."""
        self.run_id = run_id
        with self.span("op") as root:
            self._root = root
            try:
                yield root
            finally:
                self._root = None

    @contextlib.contextmanager
    def measuring(self):
        prev = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, MEASURE_GROUP)
        try:
            yield
        finally:
            self.sc.setLocalProperty(GROUP_KEY, prev)

    # -- wrappers ---------------------------------------------------------
    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name) as span:
                if name == "connected_components":
                    span["rows_in"] = _count(args[0])
                out = fn(*args, **kwargs)
                span.update(_materialize(name, out))
                span["_out"] = out
            if name == "process_batch":
                self._batch_report(span, args)
            return out

        return traced

    def install(self) -> None:
        for name, targets in LAYERS.items():
            for owner, attr in targets:
                fn = owner.__dict__[attr]
                self._saved.append((owner, attr, fn))
                setattr(owner, attr, self._wrap(name, fn))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._saved):
            setattr(owner, attr, fn)
        self._saved.clear()

    def _batch_report(self, span: dict, args) -> None:
        """Per micro-batch: state size, and the share of per-key scored rows
        that touch a rid of this batch."""
        from bela_spark.functions.text import record_id
        from pyspark.sql import functions as F

        inc, batch_df = args[0], args[1]
        span["state_mb"] = _dir_mb(inc.state_dir)
        scored = [s["_out"][0] for s in self.spans
                  if s.get("parent") == span["id"] and s["name"] == "fused_block_and_score"]
        if not scored:
            return
        with self.measuring():
            rids = [r[0] for r in batch_df.select(record_id("repo", "path", "commit")).collect()]
            new = F.col("id1").isin(rids) | F.col("id2").isin(rids)
            span["new_pairs"] = scored[0].filter(new).count()
            span["all_pairs"] = scored[0].count()

    def release(self) -> None:
        """Drop the layer outputs the spans hold (cached frames)."""
        for s in self.spans:
            s.pop("_out", None)

    def write(self, path: str) -> None:
        self.release()
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 2**20


# -- event log ----------------------------------------------------------------
def read_event_log(log_dir: str) -> dict[str, dict]:
    """job group -> summed task metrics, from an uncompressed event log."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def acc(group):
        return groups.setdefault(group, {"jobs": 0, "task_ms": [], "gc_ms": 0,
                                         "shuffle_write": 0, "spill": 0, "failed_tasks": 0})

    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (e.get("Properties") or {}).get(GROUP_KEY) or "none"
                    acc(group)["jobs"] += 1
                    for sid in e.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    g = acc(stage_group.get(e.get("Stage ID"), "none"))
                    m = e.get("Task Metrics") or {}
                    g["task_ms"].append(m.get("Executor Run Time", 0))
                    g["gc_ms"] += m.get("JVM GC Time", 0)
                    g["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    g["spill"] += m.get("Disk Bytes Spilled", 0)
                    g["failed_tasks"] += int(bool((e.get("Task Info") or {}).get("Failed")))
    return groups


def _self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the union of its children's intervals."""
    covered, cur_end = 0.0, span["start"]
    for c in sorted(children, key=lambda c: c["start"]):
        lo, hi = max(c["start"], cur_end), min(c["end"], span["end"])
        if hi > lo:
            covered += hi - lo
            cur_end = hi
    return span["end"] - span["start"] - covered


def _task_stats(group: dict | None) -> dict:
    if not group:
        return dict.fromkeys(TASK_FIELDS, 0) | {"median_task_s": 0}
    ms = group["task_ms"]
    return {
        "jobs": group["jobs"],
        "tasks": len(ms),
        "task_s": sum(ms) / 1e3,
        "max_task_s": max(ms, default=0) / 1e3,
        "median_task_s": statistics.median(ms) / 1e3 if ms else 0,
        "gc_s": group["gc_ms"] / 1e3,
        "shuffle_write_mb": group["shuffle_write"] / 2**20,
        "spill_mb": group["spill"] / 2**20,
        "failed_tasks": group["failed_tasks"],
    }


def layer_metrics(spans: list[dict], groups: dict[str, dict], runs: list[int]) -> dict[str, float]:
    """Per-layer metrics of the traced operations ``runs``: each value sums a
    layer's calls within one operation; the median over operations is kept."""
    per_run: dict[str, list[float]] = {}
    for run in runs:
        mine = [s for s in spans if s["run"] == run]
        kids: dict[int, list[dict]] = {}
        for s in mine:
            kids.setdefault(s["parent"], []).append(s)
        vals: dict[str, float] = {}

        def add(key, v):
            vals[key] = vals.get(key, 0) + v

        root = next(s for s in mine if s["name"] == "op")
        op_s = root["end"] - root["start"]
        for s in mine:
            stats = _task_stats(groups.get(f"span:{s['id']}"))
            name = s["name"]
            add("op.jobs", stats["jobs"])
            add("op.tasks", stats["tasks"])
            if name == "op":
                continue
            wall = s["end"] - s["start"]
            add(f"{name}.wall_s", wall)
            for field in TASK_FIELDS:
                if field == "max_task_s":
                    vals[f"{name}.{field}"] = max(vals.get(f"{name}.{field}", 0), stats[field])
                else:
                    add(f"{name}.{field}", stats[field])
            if name == "fused_block_and_score":
                add(f"{name}.median_task_s", stats["median_task_s"])
            for field in ("rows_out", "rows_in", "rounds", "new_pairs", "all_pairs"):
                if field in s:
                    add(f"{name}.{field}", s[field])
            if name in ("run_linkage", "process_batch"):
                add(f"{name}.self_s", _self_time(s, kids.get(s["id"], [])))
            if name == "process_batch":
                vals[f"{name}.state_mb"] = s.get("state_mb", 0)
        vals["pair_stage.share_of_op"] = sum(vals.get(f"{n}.wall_s", 0) for n in PAIR_STAGE) / op_s
        if vals.get("process_batch.all_pairs"):
            vals["process_batch.new_pair_share"] = vals["process_batch.new_pairs"] / vals["process_batch.all_pairs"]
        for k, v in vals.items():
            per_run.setdefault(k, []).append(v)
    return {k: statistics.median(v) for k, v in per_run.items()}
