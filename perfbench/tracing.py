"""Spans at the benchmark's call sites, folded with Spark's own event log.

A span wraps one public call of the package plus the action that forces it
and is named ``<module>.<function>`` (with a ``.small``/``.large`` suffix for
window queries). Spans are kept in memory and folded at exit. In a traced
run each span also sets a Spark job group, so every job, stage and task in
the event log can be attributed to the span that started it.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

# span name -> per-layer fields reported for it (the metric is
# "<span>.<field>"); the full set of per-layer metric names is derived from
# this table, so every traced run prints every metric
CRAWL_SPANS = {
    "sources.webpages.pages_to_points": ("ms", "rows", "shuffle_write_mb"),
    "sources.webpages.points_to_blocks": ("ms", "rows", "shuffle_write_mb"),
    "sources.webpages.pages_to_samples": ("ms", "rows", "shuffle_write_mb"),
    "operators.blocks.save_blocks_bucketed": ("ms", "tasks", "nonempty_tasks", "max_task_ms", "py_rows"),
    "operators.blocks.merge_blocks": ("ms", "tasks", "nonempty_tasks", "max_task_ms", "py_rows"),
    "operators.blocks.pyramid_blocks": ("ms", "tasks", "nonempty_tasks", "max_task_ms", "py_rows"),
    "operators.merge.merge_samples": ("ms", "rows", "shuffle_read_mb", "shuffle_write_mb"),
    "operators.pyramid.build_pyramid_blocked": ("ms", "rows", "shuffle_read_mb", "shuffle_write_mb"),
}
QUERY_SPANS = {
    f"{mod}.{fn}.{size}": ("ms", "rows")
    for mod, fn, size in [
        ("operators.blocks", "inside_box_blocks", "small"),
        ("operators.blocks", "inside_polygon_blocks", "small"),
        ("operators.blocks", "near_line_blocks", "small"),
        ("operators.blocks", "inside_cell_blocks", "small"),
        ("operators.blocks", "knn_join_blocks", "small"),
        ("operators.blocks", "inside_box_blocks", "large"),
        ("operators.blocks", "inside_polygon_blocks", "large"),
        ("operators.blocks", "polygon_count_blocks", "large"),
        ("operators.blocks", "lod_cut_blocks", "large"),
        ("operators.query", "inside_box", "small"),
        ("operators.query", "inside_polygon", "small"),
        ("operators.query", "near_line", "small"),
        ("operators.query", "inside_cell", "small"),
        ("operators.query", "knn_join", "small"),
        ("operators.query", "inside_box", "large"),
        ("operators.query", "inside_polygon", "large"),
        ("operators.query", "lod_cut", "large"),
    ]
}
DEDUP_SPANS = {
    "operators.dedup.lsh_candidate_pairs": ("ms", "rows", "py_rows"),
    "operators.dedup.ngram_jaccard_pairs": ("ms", "rows", "shuffle_read_mb"),
    "operators.dedup.simhash_dup_pairs": ("ms", "rows", "py_rows"),
    "operators.dedup.exact_duplicates": ("ms", "rows"),
    "operators.similarity.embedding_dup_pairs": ("ms", "rows", "shuffle_read_mb"),
}
SPANS = {**CRAWL_SPANS, **QUERY_SPANS, **DEDUP_SPANS}

# per-layer values that are not span aggregates: counted ratios, the job
# floor, run-wide spill, host context, per-class query latencies, and the
# traced run's own end-to-end figures (for the tracing overhead)
EXTRA_METRICS = {
    "operators.dedup.lsh.verified_over_candidates": "ratio",
    "operators.similarity.verified_over_candidates": "ratio",
    "spark.job_floor_ms": "ms",
    "spark.spill_mb": "MB",
    "spark.tasks_per_span": "count",
    "spark.nonempty_task_share": "ratio",
    "host.cpu_probe_before": "Mloop/s",
    "host.cpu_probe_after": "Mloop/s",
    "host.job_floor_before_ms": "ms",
    "host.job_floor_after_ms": "ms",
    "window.small.p50_ms": "ms",
    "window.small.tail_ms": "ms",
    "window.large.p50_ms": "ms",
    "window.large.tail_ms": "ms",
    "trace.op_p50_ms": "ms",
}

UNITS = {
    "ms": "ms", "rows": "count", "tasks": "count", "nonempty_tasks": "count",
    "max_task_ms": "ms", "py_rows": "count", "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB",
}


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name -> unit."""
    out = {f"{span}.{f}": UNITS[f] for span, fields in SPANS.items() for f in fields}
    out.update(EXTRA_METRICS)
    return out


class Tracer:
    """Records one span per forced public call. ``job_groups`` tags Spark
    jobs with the span's id (traced runs only); the wall time and row count
    of every span are recorded either way, at the cost of two clock reads."""

    def __init__(self, spark, job_groups: bool):
        self.sc = spark.sparkContext
        self.job_groups = job_groups
        self.spans: list[dict] = []
        self.n = 0  # spans opened, so group ids stay unique after a reset

    def reset(self) -> None:
        """Drop the spans recorded so far (set-up and warm-up ops)."""
        self.spans = []

    @contextmanager
    def span(self, name: str):
        self.n += 1
        rec = {"name": name, "group": f"pb-{self.n}", "rows": 0}
        if self.job_groups:
            self.sc.setJobGroup(rec["group"], name, False)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["ms"] = (time.perf_counter() - t0) * 1000.0
            if self.job_groups:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)


# ---------------------------------------------------------------------------
# event-log fold
# ---------------------------------------------------------------------------

_PY_NODES = ("Python", "Pandas", "Arrow")


def _python_accumulators(plan: dict, out: dict) -> None:
    """Accumulator ids of the Python-kernel nodes' row and byte metrics."""
    if any(k in plan.get("nodeName", "") for k in _PY_NODES):
        for m in plan.get("metrics", []):
            if m["name"] == "number of output rows":
                out[m["accumulatorId"]] = "py_rows"
            elif m["name"] == "data sent to Python workers":
                out[m["accumulatorId"]] = "py_bytes_in"
    for child in plan.get("children", []):
        _python_accumulators(child, out)


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: tasks, non-empty tasks, task run times, shuffle and
    spill bytes, and Python-kernel rows, from Spark's uncompressed event log."""
    stage_group: dict[int, str] = {}
    py_acc: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def g(name: str) -> dict:
        return groups.setdefault(name, {
            "tasks": 0, "nonempty_tasks": 0, "task_ms": [], "shuffle_read": 0,
            "shuffle_write": 0, "spill": 0, "py_rows": 0, "py_bytes_in": 0,
        })

    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if grp:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = grp
                elif kind.endswith(("SparkListenerSQLExecutionStart",
                                    "SparkListenerSQLAdaptiveExecutionUpdate")):
                    _python_accumulators(ev.get("sparkPlanInfo", {}), py_acc)
                elif kind == "SparkListenerTaskEnd":
                    grp = stage_group.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics")
                    if grp is None or not tm:
                        continue
                    rec = g(grp)
                    rec["tasks"] += 1
                    sr = tm.get("Shuffle Read Metrics", {})
                    read = (tm.get("Input Metrics", {}).get("Records Read", 0)
                            + sr.get("Total Records Read", 0))
                    rec["nonempty_tasks"] += read > 0
                    rec["task_ms"].append(tm.get("Executor Run Time", 0))
                    rec["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    rec["shuffle_write"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    rec["spill"] += tm.get("Disk Bytes Spilled", 0)
                elif kind == "SparkListenerStageCompleted":
                    info = ev.get("Stage Info", {})
                    grp = stage_group.get(info.get("Stage ID"))
                    if grp is None:
                        continue
                    for acc in info.get("Accumulables", []):
                        field = py_acc.get(acc.get("ID"))
                        if field:
                            g(grp)[field] += int(acc.get("Value") or 0)
    return groups


def stage_summary(st: dict) -> dict[str, float]:
    """One job group's folded stage counts, as the spans file keeps them for
    every span: the per-layer metrics report a subset."""
    mb = 1024.0 * 1024.0
    task_ms = st["task_ms"] or [0]
    return {
        "tasks": st["tasks"], "nonempty_tasks": st["nonempty_tasks"],
        "max_task_ms": max(task_ms), "median_task_ms": statistics.median(task_ms),
        "shuffle_read_mb": st["shuffle_read"] / mb, "shuffle_write_mb": st["shuffle_write"] / mb,
        "spill_mb": st["spill"] / mb, "py_rows": st["py_rows"], "py_bytes_in": st["py_bytes_in"],
    }


def per_layer_metrics(spans: list[dict], groups: dict[str, dict]) -> dict[str, float]:
    """Fold spans (and their job groups' stage stats) into per-layer values:
    medians over the calls of each span name; 0 for spans the workload never
    calls."""
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    out: dict[str, float] = {}
    mb = 1024.0 * 1024.0
    for name, fields in SPANS.items():
        calls = by_name.get(name, [])
        for f in fields:
            vals = []
            for s in calls:
                st = groups.get(s["group"], {})
                if f == "ms":
                    vals.append(s["ms"])
                elif f == "rows":
                    vals.append(s["rows"])
                elif f == "max_task_ms":
                    vals.append(max(st.get("task_ms") or [0]))
                elif f in ("shuffle_read_mb", "shuffle_write_mb"):
                    vals.append(st.get(f[:-3], 0) / mb)
                else:
                    vals.append(st.get(f, 0))
            out[f"{name}.{f}"] = float(statistics.median(vals)) if vals else 0.0
    traced = [groups[s["group"]] for s in spans if s["group"] in groups]
    tasks = sum(st["tasks"] for st in traced)
    out["spark.tasks_per_span"] = tasks / len(traced) if traced else 0.0
    out["spark.nonempty_task_share"] = (
        sum(st["nonempty_tasks"] for st in traced) / tasks if tasks else 0.0
    )
    out["spark.spill_mb"] = sum(st["spill"] for st in traced) / mb
    return out
