"""Fold a Spark event log into per-phase stage metrics.

The benchmark sets the job description to a phase name (e.g.
``import.geotiff4326.build``) around each call it times. A stage belongs
to the phase of the first job that lists it; each finished task's
metrics are summed into that phase. Phases are then grouped by a caller
supplied function (e.g. the first dotted component = the layer).
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable

FIELDS = (
    "task_run_s", "task_cpu_s", "gc_s", "shuffle_bytes", "spill_bytes",
    "python_s", "records_read", "tasks",
)
UNKNOWN = "other"


def _task_values(ev: dict) -> dict[str, float]:
    m = ev.get("Task Metrics") or {}
    acc = {
        a.get("Name"): a.get("Update")
        for a in (ev.get("Task Info") or {}).get("Accumulables", [])
    }
    return {
        "task_run_s": m.get("Executor Run Time", 0) / 1e3,
        "task_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "shuffle_bytes": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Disk Bytes Spilled", 0),
        # SQL metric of the Arrow/pandas Python runners, in milliseconds
        "python_s": float(acc.get("time to run Python workers") or 0) / 1e3,
        "records_read": (m.get("Input Metrics") or {}).get("Records Read", 0),
        "tasks": 1,
    }


def fold(
    lines: Iterable[str],
    group: Callable[[str], str] = lambda phase: phase,
) -> dict[str, dict[str, float]]:
    """``{group(phase): {field: total}}`` over every finished task in the
    event log ``lines`` (one JSON event per line). Tasks of stages run by
    jobs without a description land in ``"other"``."""
    stage_phase: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description")
            phase = group(desc) if desc else UNKNOWN
            for sid in ev.get("Stage IDs", []):
                stage_phase.setdefault(sid, phase)
        elif kind == "SparkListenerTaskEnd":
            phase = stage_phase.get(ev.get("Stage ID"), UNKNOWN)
            acc = out.setdefault(phase, dict.fromkeys(FIELDS, 0.0))
            for k, v in _task_values(ev).items():
                acc[k] += v
    return out


def read_dir(path: str) -> list[str]:
    """All lines of the (uncompressed, non-rolling) event log files in
    ``path``."""
    import os

    lines: list[str] = []
    for name in sorted(os.listdir(path)):
        full = os.path.join(path, name)
        if os.path.isfile(full) and not name.startswith("."):
            with open(full) as f:
                lines.extend(f)
    return lines
