"""Small, engine-free helpers: percentiles, operation accounting and the
per-stage delta over Spark UI REST snapshots."""

from __future__ import annotations

import math
import traceback
from collections.abc import Callable

MIN_BEYOND = 10


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> int | None:
    """The highest whole percentile p such that at least ``min_beyond`` of
    ``n`` samples lie beyond it, or None when n is too small to have one."""
    for p in range(99, 0, -1):
        if n - math.ceil(n * p / 100) >= min_beyond:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(len(ordered) * p / 100))
    return ordered[rank - 1]


class Ops:
    """Counts timed operations: each is attempted once and failed when it
    raises or when its output check disagrees. A raising operation is
    recorded with its traceback and does not stop the run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, label: str, fn: Callable, *args, **kwargs):
        """Attempt ``fn``; return (ok, result). Exceptions count as a
        failure of this operation."""
        self.attempted += 1
        try:
            return True, fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 - a failed op must not end the run
            self.failed += 1
            self.errors.append(f"{label}: {traceback.format_exc(limit=3)}")
            return False, None

    def check(self, label: str, ok: bool, detail: str = "") -> None:
        """Mark an already-attempted operation failed when its output
        check disagrees."""
        if not ok:
            self.failed += 1
            self.errors.append(f"{label}: output check failed {detail}")

    @property
    def ok_frac(self) -> float:
        return 1.0 - self.failed / self.attempted if self.attempted else 0.0


STAGE_FIELDS = {
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "input_records": "inputRecords",
    "tasks": "numCompleteTasks",
    "failed_tasks": "numFailedTasks",
}


def stage_map(stages: list[dict]) -> dict[int, dict[str, int]]:
    """Per-stageId field map over a REST /stages list; a retried stage
    keeps the per-field max over its attempts."""
    per: dict[int, dict[str, int]] = {}
    for s in stages:
        cur = per.setdefault(int(s["stageId"]), dict.fromkeys(STAGE_FIELDS, 0))
        for key, field in STAGE_FIELDS.items():
            cur[key] = max(cur[key], int(s.get(field, 0) or 0))
    return per


def stage_delta(before: dict[int, dict[str, int]],
                after: dict[int, dict[str, int]]) -> dict[str, int]:
    """Work done between two snapshots, diffed per stage: a stage only in
    ``after`` counts in full, a stage in both counts its growth, and a
    stage the UI evicted in between counts nothing (it finished before
    the interval), so the delta never goes negative."""
    out = dict.fromkeys(STAGE_FIELDS, 0)
    for sid, fields in after.items():
        prev = before.get(sid, {})
        for key in STAGE_FIELDS:
            grown = fields[key] - prev.get(key, 0)
            if grown > 0:
                out[key] += grown
    return out
