"""Layer spans recorded around calls into the program, and the Spark stage
metrics of each span folded from the uncompressed event log.

A span is ``{name, start, end, parent, run_id}``. Every layer span runs its
Spark jobs under a job group named ``<run_id>/<layer>``, which is how the
event log's tasks are attributed back to the layer.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

LAYER_METRICS = ("wall_s", "cpu_s", "offcpu_s", "gc_s", "shuffle_write_bytes",
                 "spill_bytes", "peak_exec_mem_bytes", "rows_out",
                 "failed_tasks")


def unit_of(metric: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_bytes"):
        return "B"
    if metric.endswith(("_skew", "_rate", "_per_row", "_per_turn")):
        return "ratio"
    return "count"


@contextmanager
def job_group(sc, group: str):
    """Run the block's Spark jobs under ``group``; clear it afterwards."""
    sc.setJobGroup(group, group)
    try:
        yield group
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


class Tracer:
    """Spans kept in memory; written out once, when the benchmark ends."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.rows: dict[str, int] = {}

    @contextmanager
    def span(self, name: str, run_id: str, parent: str | None = None):
        """Time one layer call; its Spark jobs carry the span's job group."""
        start = time.time()
        try:
            with job_group(self.sc, f"{run_id}/{name}") as group:
                yield group
        finally:
            self.spans.append({"name": name, "start": start, "end": time.time(),
                               "parent": parent, "run_id": run_id})

    def materialise(self, name: str, run_id: str, df, parent: str):
        """Persist ``df`` and count it once inside the layer's span; the
        count is the layer's ``rows_out``."""
        with self.span(name, run_id, parent):
            df = df.persist()
            self.rows[f"{run_id}/{name}"] = df.count()
        return df

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f, indent=1)


def _tasks_by_group(event_log: str) -> dict[str, list[dict]]:
    """TaskEnd events of the log, keyed by their job's job group."""
    stage_group: dict[int, str] = {}
    tasks: dict[str, list[dict]] = {}
    with open(event_log, encoding="utf-8") as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in e["Stage IDs"]:
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(e["Stage ID"])
                if group:
                    tasks.setdefault(group, []).append(e)
    return tasks


def _fold(tasks: list[dict]) -> dict[str, float]:
    run_s = cpu_s = gc_s = shuffle = spill = peak = failed = 0
    durations = []
    for t in tasks:
        if t["Task End Reason"]["Reason"] != "Success":
            failed += 1
        m = t.get("Task Metrics") or {}
        run_ms = m.get("Executor Run Time", 0)
        durations.append(run_ms)
        run_s += run_ms / 1e3
        cpu_s += m.get("Executor CPU Time", 0) / 1e9
        gc_s += m.get("JVM GC Time", 0) / 1e3
        shuffle += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        peak = max(peak, m.get("Peak Execution Memory", 0))
    median = statistics.median(durations) if durations else 0
    return {"cpu_s": cpu_s, "offcpu_s": max(run_s - cpu_s, 0.0), "gc_s": gc_s,
            "shuffle_write_bytes": shuffle, "spill_bytes": spill,
            "peak_exec_mem_bytes": peak, "failed_tasks": failed,
            "task_skew": max(durations) / median if median else 0.0}


def layer_metrics(tracer: Tracer, event_log: str, layers: list[str]
                  ) -> dict[str, dict[str, float]]:
    """Per layer: the median over traced passes of each layer metric (plus
    ``task_skew``, max ÷ median task run time)."""
    tasks = _tasks_by_group(event_log)
    per_layer: dict[str, list[dict[str, float]]] = {n: [] for n in layers}
    for s in tracer.spans:
        if s["name"] not in per_layer:
            continue
        group = f"{s['run_id']}/{s['name']}"
        m = _fold(tasks.get(group, []))
        m["wall_s"] = s["end"] - s["start"]
        m["rows_out"] = tracer.rows.get(group, 0)
        per_layer[s["name"]].append(m)
    return {name: {k: statistics.median(p[k] for p in passes)
                   for k in passes[0]}
            for name, passes in per_layer.items() if passes}
