"""Pure helpers of the benchmark: percentiles, the status-store roll-up
and the per-op output pins. Nothing here touches Spark, so the
self-tests exercise it in milliseconds."""

from __future__ import annotations

import math
import statistics

#: A tail percentile is only reported with this many samples beyond it.
TAIL_BEYOND = 10

#: Stage fields summed per job group, as named by the status store's
#: ``v1.StageData`` getters.
STAGE_FIELDS = (
    "numTasks", "executorCpuTime", "executorRunTime", "jvmGcTime",
    "inputRecords", "outputBytes", "shuffleReadBytes", "shuffleWriteBytes",
    "memoryBytesSpilled", "diskBytesSpilled",
)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def steal_slowness(before: tuple[float, float], after: tuple[float, float]) -> float:
    """How much the hypervisor slowed the box's CPUs between two
    ``(busy, stolen)`` CPU-second readings: the time they wanted to run
    over the time they ran, (busy + stolen) / busy. 1.0 if they were
    never busy."""
    busy, stolen = after[0] - before[0], after[1] - before[1]
    return (busy + stolen) / busy if busy > 0 else 1.0


def cycle_slowness(samples: list[float], ref: float) -> float:
    """How much slower than the reference the CPUs ran: the mean of
    CPU-speed samples over ``ref`` (1.0 without samples)."""
    return statistics.mean(samples) / ref if samples else 1.0


def tail(samples: list[float], n_failed: int = 0, beyond: int = TAIL_BEYOND):
    """The highest nearest-rank percentile with at least ``beyond``
    samples above it. A failed op counts as a sample above every
    timed one. Returns ``(value, percentile, n)``; ``n`` counts the
    failed ops too. With ``beyond`` or fewer samples there is no such
    percentile and the value is the median of what was timed, at
    percentile 50."""
    ordered = sorted(samples) + [math.inf] * n_failed
    n = len(ordered)
    if n <= beyond:
        return median(samples), 50.0, n
    rank = n - beyond  # 1-based: exactly `beyond` samples lie above it
    return ordered[rank - 1], round(100.0 * rank / n, 2), n


def rollup_stages(stages_by_group: dict[str, list[dict]]) -> dict[str, dict]:
    """Sum stage records per job group. A record is one stage attempt as
    read from the status store, with a ``status`` and the
    ``STAGE_FIELDS``; skipped stages (their output was reused) count
    neither as a stage nor toward the sums."""
    out = {}
    for group, stages in stages_by_group.items():
        acc = {f: 0 for f in STAGE_FIELDS}
        acc["stages"] = 0
        for s in stages:
            if s.get("status") == "SKIPPED":
                continue
            acc["stages"] += 1
            for f in STAGE_FIELDS:
                acc[f] += s.get(f, 0)
        out[group] = acc
    return out


class Pins:
    """Per-op output pins: the first (rows, checksum) an op returns is
    its pin, and every later pass must return the same pair."""

    def __init__(self):
        self.pins: dict[str, tuple[int, int]] = {}
        self.mismatches: list[str] = []

    def check(self, name: str, got: tuple[int, int]) -> bool:
        want = self.pins.setdefault(name, got)
        if want != got:
            self.mismatches.append(f"{name}: pinned {want}, got {got}")
            return False
        return True


def ingest_expectation(history: list[tuple], files: list[list[tuple]]):
    """What draining ``files`` into a target seeded with ``history``
    must leave behind: (sorted target ids, sorted JSON-sink ids with
    multiplicity). A row whose amount (index 3) is blank is dropped
    before both sinks; a re-sent id updates its row in place."""
    landed = [r[0] for rows in files for r in rows if r[3] != ""]
    target = {r[0] for r in history if r[3] != ""} | set(landed)
    return sorted(target), sorted(landed)
