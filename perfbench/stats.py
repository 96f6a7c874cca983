"""Statistics the benchmark reports: medians, the tail rule, failure
accounting, freshness mapping and open-loop generator lateness."""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

#: the tail is the highest percentile that still has this many samples
#: beyond it
TAIL_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (``p`` in 0..100) of a non-empty list."""
    s = sorted(values)
    rank = max(1, -(-len(s) * p // 100))  # ceil(n * p / 100), at least 1
    return s[int(rank) - 1]


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile with at least ``TAIL_BEYOND`` of ``n``
    samples strictly above its nearest-rank position.  None when no
    percentile above the median has that many beyond it: a "tail" at or
    below the median would read as no worse than typical."""
    for p in range(99, 50, -1):
        rank = max(1, -(-n * p // 100))
        if n - rank >= TAIL_BEYOND:
            return p
    return None


@dataclass
class Summary:
    """Median plus tail of one timing series."""

    n: int
    p50: float
    tail: float
    tail_pct: int | None

    def describe(self) -> str:
        where = f"p{self.tail_pct}" if self.tail_pct else "max (too few samples)"
        return f"n={self.n} p50={self.p50:.4g} tail[{where}]={self.tail:.4g}"


def summarize(values: list[float]) -> Summary:
    """Median and tail.  With too few samples for the tail rule the tail
    is the maximum, and ``tail_pct`` says so by being None."""
    if not values:
        raise ValueError("no samples")
    p = tail_percentile(len(values))
    tail = percentile(values, p) if p is not None else max(values)
    return Summary(len(values), statistics.median(values), tail, p)


@dataclass
class Ops:
    """Attempted and failed operations, by kind.  A check whose output
    does not match the reference is a failed operation like one that
    raised."""

    attempted: dict[str, int] = field(default_factory=dict)
    failed: dict[str, int] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)

    def record(self, kind: str, ok: bool, note: str | None = None) -> None:
        self.attempted[kind] = self.attempted.get(kind, 0) + 1
        if not ok:
            self.failed[kind] = self.failed.get(kind, 0) + 1
            if note and len(self.notes) < 20:
                self.notes.append(f"{kind}: {note}")

    @property
    def n_attempted(self) -> int:
        return sum(self.attempted.values())

    @property
    def n_failed(self) -> int:
        return sum(self.failed.values())

    def failed_ratio(self) -> float:
        return self.n_failed / self.n_attempted if self.n_attempted else 0.0


def source_log_batches(checkpoint_dir: str) -> dict[str, int]:
    """Map each feed file name to the micro-batch that read it, from the
    file source's log in a streaming checkpoint: ``sources/0/<batchId>``
    holds a version line, then one JSON entry per file; every tenth batch
    is written as ``<batchId>.compact`` with the entries of all earlier
    batches, whose own files are then deleted."""
    log_dir = os.path.join(checkpoint_dir, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if not name.removesuffix(".compact").isdigit():
            continue
        with open(os.path.join(log_dir, name)) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:
            if not line.strip():
                continue
            entry = json.loads(line)
            out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def freshness_ms(
    available_at: dict[str, float],
    file_batch: dict[str, int],
    batch_end: dict[int, float],
) -> tuple[list[float], list[str]]:
    """Per feed file: end of the batch that committed it minus the time
    the file was due (open loop) or present (closed drain), in ms.
    Returns the samples and the files no committed batch covers."""
    samples, missing = [], []
    for name, t0 in sorted(available_at.items()):
        b = file_batch.get(name)
        if b is None or b not in batch_end:
            missing.append(name)
            continue
        samples.append((batch_end[b] - t0) * 1000.0)
    return samples, missing


def batch_ends(progress: list[dict]) -> dict[int, float]:
    """Batch id → wall-clock end (s since epoch) from streaming progress:
    trigger start timestamp plus its ``triggerExecution`` duration."""
    import datetime

    out = {}
    for p in progress:
        start = datetime.datetime.fromisoformat(
            p["timestamp"].replace("Z", "+00:00")
        ).timestamp()
        out[int(p["batchId"])] = start + p["durationMs"]["triggerExecution"] / 1000.0
    return out


def lateness_ms(due: list[float], actual: list[float]) -> list[float]:
    """How late an open-loop generator ran: actual minus due send time
    per item, in ms (never negative)."""
    return [max(0.0, (a - d) * 1000.0) for d, a in zip(due, actual)]
