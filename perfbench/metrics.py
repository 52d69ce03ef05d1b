"""Per-layer metrics of a traced run: span self times joined, through the
Spark job group of each operation phase, to the task metrics of the event
log. Values are per round (totals divided by the number of rounds)."""

from __future__ import annotations

import statistics
from collections import defaultdict

from perfbench.harness import GroupStats, read_event_log_dir, self_time_by_name

PHASES = ("build", "plan", "execute")


def per_layer(
    ctx, tracer, event_dir: str, cpus: int, session_s: float, peak_rss_mb: float,
    live_heap_mb: float,
):
    """Returns ``({metric: (value, unit)}, {operation kind: summary})``."""
    groups = read_event_log_dir(event_dir)
    phase = {p: GroupStats() for p in PHASES}
    per_op: dict[int, GroupStats] = defaultdict(GroupStats)
    for gid, st in groups.items():
        parts = gid.split(":")
        if len(parts) != 4 or parts[0] != "pb":
            continue
        phase[parts[3]].add(st)
        per_op[int(parts[2])].add(st)
    total = GroupStats()
    for st in phase.values():
        total.add(st)

    n = len(ctx.rounds)
    wall = sum(o.latency for o in ctx.ops if o.latency is not None) / n
    selft = self_time_by_name(tracer.spans)
    out = {
        "session.start_s": (session_s, "s"),
        "ops.build_s": (selft.get("ops.build", 0.0) / n, "s"),
        "ops.plan_s": (selft.get("ops.plan", 0.0) / n, "s"),
        "ops.execute_s": (selft.get("ops.execute", 0.0) / n, "s"),
        "ops.build_jobs": (phase["build"].jobs / n, "count"),
        "ops.execute_jobs": (phase["execute"].jobs / n, "count"),
        "ops.execute_stages": (phase["execute"].stages / n, "count"),
        "ops.execute_tasks": (phase["execute"].tasks / n, "count"),
        "spark.task_run_s": (total.task_run_s / n, "s"),
        "spark.task_cpu_s": (total.task_cpu_s / n, "s"),
        "spark.gc_s": (total.gc_s / n, "s"),
        "spark.idle_core_s": (wall * cpus - total.task_run_s / n, "s"),
        "spark.shuffle_write_bytes": (total.shuffle_write_bytes / n, "bytes"),
        "spark.shuffle_read_bytes": (total.shuffle_read_bytes / n, "bytes"),
        "spark.spill_bytes": (total.spill_bytes / n, "bytes"),
        "sources.scan_bytes": (total.scan_bytes / n, "bytes"),
        "sources.scan_tasks": (total.scan_tasks / n, "count"),
        "process.cpu_s": (sum(o.cpu for o in ctx.ops if o.latency is not None) / n, "s"),
        "memory.peak_rss_mb": (peak_rss_mb, "MB"),
        "memory.live_heap_mb": (live_heap_mb, "MB"),
        "trace.round_s": (wall, "s"),
        "trace.own_s": (tracer.own_s / n, "s"),
    }

    kinds: dict[str, list] = defaultdict(list)
    for o in ctx.ops:
        if o.latency is not None:
            kinds[o.kind].append(o)
    summary = {}
    for kind, ops in sorted(kinds.items()):
        jobs = [per_op[o.idx].jobs for o in ops]
        row = {
            "n": len(ops),
            "p50_s": statistics.median(o.latency for o in ops),
            "jobs": statistics.median(jobs),
            "stages": statistics.median(per_op[o.idx].stages for o in ops),
            "tasks": statistics.median(per_op[o.idx].tasks for o in ops),
            "task_run_s": statistics.median(per_op[o.idx].task_run_s for o in ops),
        }
        levels = [o.info["levels"] for o in ops if "levels" in o.info]
        if levels:
            row["levels"] = statistics.median(levels)
            row["s_per_level"] = statistics.median(o.latency / o.info["levels"] for o in ops)
        edges = [o.info["collected_edges"] for o in ops if "collected_edges" in o.info]
        if edges:
            row["collected_edges"] = statistics.median(edges)
        summary[kind] = row
    return out, summary
