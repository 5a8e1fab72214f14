"""Spark event-log parser and per-layer report (standard library only).

Reads an uncompressed event log (one JSON event per line), attributes
every task to the job group of the stage that ran it, and sums the
task metrics per group. The benchmark's tracer sets the job group to
the layer name around each call, so groups are layers.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

COUNTERS = (
    "jobs",
    "tasks",
    "task_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_rows",
    "output_rows",
    "output_bytes",
)

GROUP_PROP = "spark.jobGroup.id"


def _group(props: dict | None) -> str | None:
    return (props or {}).get(GROUP_PROP)


def parse(lines) -> tuple[dict[str, dict[str, float]], list[tuple[float, str]]]:
    """({group: {counter: value}}, [(job submission time in s since the
    epoch, group)]) from event-log lines. Jobs and stages without a
    group land under ``""``."""
    stage_group: dict[int, str] = {}
    jobs: list[tuple[float, str]] = []
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = _group(ev.get("Properties")) or ""
            out[g]["jobs"] += 1
            jobs.append((ev.get("Submission Time", 0) / 1e3, g))
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            g = _group(ev.get("Properties"))
            if g is not None:
                stage_group[sid] = g
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev.get("Stage ID"), "")
            m = ev.get("Task Metrics") or {}
            c = out[g]
            c["tasks"] += 1
            c["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            c["spill_bytes"] += m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0)
            c["input_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
            om = m.get("Output Metrics") or {}
            c["output_rows"] += om.get("Records Written", 0)
            c["output_bytes"] += om.get("Bytes Written", 0)
    return {g: dict(c) for g, c in out.items()}, jobs


def parse_dir(path: str) -> tuple[dict[str, dict[str, float]], list[tuple[float, str]]]:
    """Parse every log file under an event-log directory (single-file
    and rolling layouts alike), in name order so a rolled log's stage
    submissions precede their tasks."""
    files = sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(path)
        for f in fs
        if not f.startswith(("appstatus", "."))
    )
    lines = []
    for p in files:
        with open(p) as fh:
            lines.extend(fh)
    return parse(lines)


def tagged_share(jobs: list[tuple[float, str]], layers, windows) -> float:
    """Share of the jobs submitted inside any of the ``(start, end)``
    windows that carry a layer tag."""
    inside = [g for t, g in jobs if any(a <= t <= b for a, b in windows)]
    return sum(1 for g in inside if g in layers) / len(inside) if inside else 0.0


def layer_metrics(groups: dict[str, dict[str, float]], layers) -> dict[str, float]:
    """Flatten to ``<layer>.<counter>`` for the named layers (0 when a
    layer launched no job)."""
    return {
        f"{layer}.{k}": float(groups.get(layer, {}).get(k, 0.0)) for layer in layers for k in COUNTERS
    }


def report(groups: dict[str, dict[str, float]], spans: dict[str, float], wall_s: float,
           phase_sum_s: float, overhead_share: float) -> str:
    """Human-readable per-layer table for stderr."""
    lines = [f"{'group':<16}" + "".join(f"{k:>20}" for k in COUNTERS)]
    for g in sorted(groups):
        c = groups[g]
        lines.append(f"{g or '(untagged)':<16}" + "".join(f"{c[k]:>20.3f}" for k in COUNTERS))
    lines.append("")
    for name in sorted(spans):
        lines.append(f"{name:<36}{spans[name]:>12.3f}")
    share = phase_sum_s / wall_s if wall_s else float("nan")
    lines.append(f"phase sum {phase_sum_s:.3f} s / wall {wall_s:.3f} s = {share:.3f}")
    lines.append(f"trace overhead share {overhead_share:+.3f}")
    return "\n".join(lines)
