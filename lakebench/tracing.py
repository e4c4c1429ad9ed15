"""Traced-run instruments: in-memory spans around the package's public
calls, Spark event-log aggregation by op, and Python-UDF profiler totals.

Nothing here edits the package. ``instrument`` wraps the public callables
named in BENCHMARK.md in the benchmark process only, and only for a traced
run; an untraced run never imports this module's wrappers.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import pstats
import sys
import time
from contextlib import contextmanager


class Tracer:
    """Spans (name, start, end, parent, request id) kept in memory and
    written out once at exit. A span's self time is its duration minus the
    part of it covered by its children."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.request: str | None = None

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "wall_start_ms": time.time() * 1000.0,
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "request": self.request,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            rec["wall_end_ms"] = time.time() * 1000.0

    def self_times(self) -> list[float]:
        """Self time per span: duration minus the union of its children's
        intervals (children are sequential in one thread, so the union is
        the sum)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [
            (s["end"] - s["start"]) - child[i] if s["end"] is not None else 0.0
            for i, s in enumerate(self.spans)
        ]

    def total(self, name: str, requests: set[str] | None = None) -> float:
        """Summed duration of spans called ``name`` that are not nested in
        another span of the same name (re-entrant calls count once)."""
        out = 0.0
        for s in self.spans:
            if s["name"] != name or s["end"] is None:
                continue
            if requests is not None and s["request"] not in requests:
                continue
            p = s["parent"]
            nested = False
            while p is not None:
                if self.spans[p]["name"] == name:
                    nested = True
                    break
                p = self.spans[p]["parent"]
            if not nested:
                out += s["end"] - s["start"]
        return out

    def dump(self, path: str) -> None:
        self_t = self.self_times()
        with open(path, "w") as f:
            for s, st in zip(self.spans, self_t):
                f.write(json.dumps({**s, "self_s": st}) + "\n")


# (module, attribute path, span name) of every public call the traced run
# wraps. Module-level functions are also rebound wherever another package
# module imported them by name.
TRACED_CALLS = [
    ("hudi_delete_view_spark.plans.timeline", "Timeline.__init__", "timeline.open"),
    ("hudi_delete_view_spark.plans.timeline", "Timeline.instants", "timeline.open"),
    ("hudi_delete_view_spark.plans.timeline", "Timeline.commit_metadata", "timeline.metadata"),
    ("hudi_delete_view_spark.plans.slices", "resolve_slices", "slices.resolve"),
    ("hudi_delete_view_spark.sources.cow", "CowTable.delete", "cow.commit"),
    ("hudi_delete_view_spark.sources.cow", "CowTable.upsert", "cow.commit"),
    ("hudi_delete_view_spark.sources.cow", "CowTable.scan", "cow.scan"),
    ("hudi_delete_view_spark.sources.cow", "CowTable.pruned_files", "cow.pruned_files"),
    ("hudi_delete_view_spark.sources.delete_view", "DeleteView.materialize", "delete_view.materialize"),
    ("hudi_delete_view_spark.sources.delete_view", "DeleteView.is_materialized", "delete_view.cache_check"),
    ("hudi_delete_view_spark.sources.delete_view", "DeleteView.dataset", "delete_view.dataset"),
    ("hudi_delete_view_spark.sources.mor", "MorTable.delete_view", "mor.plan"),
    ("hudi_delete_view_spark.sources.mor", "MorTable.snapshot", "mor.plan"),
    ("hudi_delete_view_spark.sources.delta", "read_delta_delete_view", "delta.plan"),
    ("hudi_delete_view_spark.sources.delta", "read_delta_snapshot", "delta.plan"),
    ("hudi_delete_view_spark.sources.iceberg", "read_iceberg_delete_view", "iceberg.plan"),
    ("hudi_delete_view_spark.sources.iceberg", "read_iceberg_snapshot", "iceberg.plan"),
    ("hudi_delete_view_spark.sources.hudi", "read_hudi_mor_delete_view", "hudi.plan"),
    ("hudi_delete_view_spark.sources.hudi", "read_hudi_mor_snapshot", "hudi.plan"),
    ("hudi_delete_view_spark.operators.dedup", "minhash_dedup", "dedup.minhash_dedup"),
    ("hudi_delete_view_spark.operators.dedup", "minhash_dedup_incremental", "dedup.minhash_dedup_incremental"),
    ("hudi_delete_view_spark.operators.dedup", "minhash_lsh_candidate_pairs", "dedup.minhash_lsh_candidate_pairs"),
    ("hudi_delete_view_spark.operators.dedup", "minhash_verified_pairs", "dedup.minhash_verified_pairs"),
]


def _wrap(fn, tracer: Tracer, name: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    wrapper.__lakebench_wrapped__ = fn
    return wrapper


def instrument(tracer: Tracer) -> None:
    """Wrap every call in ``TRACED_CALLS`` with a span."""
    rebinds: list[tuple[object, object]] = []
    for mod_name, attr, span_name in TRACED_CALLS:
        mod = importlib.import_module(mod_name)
        if "." in attr:
            cls_name, meth = attr.split(".")
            cls = getattr(mod, cls_name)
            setattr(cls, meth, _wrap(cls.__dict__[meth], tracer, span_name))
        else:
            orig = getattr(mod, attr)
            wrapped = _wrap(orig, tracer, span_name)
            setattr(mod, attr, wrapped)
            rebinds.append((orig, wrapped))
    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith("hudi_delete_view_spark"):
            continue
        for k, v in list(vars(mod).items()):
            for orig, wrapped in rebinds:
                if v is orig:
                    setattr(mod, k, wrapped)


def spark_conf_args(event_dir: str) -> list[str]:
    """Launch-time confs of a traced run: the uncompressed event log and
    the Python-UDF perf profiler."""
    return [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir=file://{event_dir}",
        "--conf", "spark.eventLog.compress=false",
        "--conf", "spark.sql.pyspark.udf.profiler=perf",
    ]


_STAT_FIELDS = (
    "jobs", "tasks", "executor_run_s", "executor_cpu_s",
    "shuffle_write_bytes", "spill_bytes", "input_bytes", "gc_s",
)


def parse_event_log(event_dir: str, windows: list[dict]) -> dict:
    """Aggregate the event log per op window.

    ``windows`` are op records with ``wall_start_ms``/``wall_end_ms``; a
    job belongs to the op whose window holds its submission time (one
    client, sequential ops). Returns per-window stats keyed by window
    index, plus Python-UDF row counts from the SQL metrics of Python
    nodes."""
    # Spark 4 writes a rolling log: <dir>/eventlog_v2_<app>/events_<n>_<app>
    files = sorted(
        (p for p in glob.glob(os.path.join(event_dir, "**", "*"), recursive=True)
         if os.path.isfile(p) and os.path.basename(p).startswith("events_")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    stage_job: dict[int, int] = {}
    job_win: dict[int, int] = {}
    stats = {i: dict.fromkeys(_STAT_FIELDS, 0.0) for i in range(len(windows))}
    py_rows_acc: set[int] = set()
    py_rows_by_win: dict[int, float] = {}

    def win_of(ms: float) -> int | None:
        for i, w in enumerate(windows):
            if w["wall_start_ms"] <= ms <= w["wall_end_ms"]:
                return i
        return None

    def python_accs(node: dict) -> None:
        names = {m.get("name"): m.get("accumulatorId") for m in node.get("metrics", [])}
        if "data sent to Python workers" in names and "number of output rows" in names:
            py_rows_acc.add(names["number of output rows"])
        for c in node.get("children", []):
            python_accs(c)

    for path in files:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    w = win_of(ev.get("Submission Time", 0))
                    if w is None:
                        continue
                    job_win[ev["Job ID"]] = w
                    stats[w]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    python_accs(ev.get("sparkPlanInfo", {}))
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(ev.get("Stage ID"))
                    if job is None or job not in job_win:
                        continue
                    w = job_win[job]
                    s = stats[w]
                    m = ev.get("Task Metrics") or {}
                    s["tasks"] += 1
                    s["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    s["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    s["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    s["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    s["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    s["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("ID") in py_rows_acc:
                            try:
                                py_rows_by_win[w] = py_rows_by_win.get(w, 0.0) + float(
                                    acc.get("Update", 0)
                                )
                            except (TypeError, ValueError):
                                pass
    return {"per_window": stats, "python_rows": py_rows_by_win, "files": len(files)}


def udf_profile_seconds(spark, dump_dir: str) -> float:
    """Total time the Python-UDF perf profiler attributed to UDFs."""
    os.makedirs(dump_dir, exist_ok=True)
    spark.profile.dump(dump_dir, type="perf")
    total = 0.0
    for path in glob.glob(os.path.join(dump_dir, "*.pstats")):
        total += pstats.Stats(path).total_tt
    return total
