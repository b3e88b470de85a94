"""Percentiles, geometric means and streaming latency arithmetic."""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence
from datetime import datetime, timezone

__all__ = [
    "percentile",
    "geomean",
    "progress_end_ms",
    "consumed_files",
    "consumed_end_ms",
    "file_latencies_ms",
]


def percentile(values: Iterable[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default method), ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def geomean(values: Sequence[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def _epoch_ms(ts: str) -> float:
    # Progress timestamps look like 2024-01-01T00:00:00.123Z (UTC).
    dt = datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
    return dt.timestamp() * 1000.0


def progress_end_ms(progress: dict) -> float:
    """Wall-clock end of a trigger: its start ``timestamp`` plus
    ``durationMs.triggerExecution``, in epoch milliseconds."""
    return _epoch_ms(progress["timestamp"]) + progress["durationMs"]["triggerExecution"]


def consumed_files(progress: dict) -> range:
    """File numbers (0-based, in arrival order) a file-source trigger read.

    With ``maxFilesPerTrigger=1`` the source's ``logOffset`` advances by one
    per file, so offsets ``(start, end]`` name the files of this trigger."""
    src = progress["sources"][0]
    end = src.get("endOffset")
    if not end or progress.get("numInputRows", 0) == 0:
        return range(0)
    start = src.get("startOffset")
    first = start["logOffset"] + 1 if start else 0
    return range(first, end["logOffset"] + 1)


def consumed_end_ms(progresses: Iterable[dict]) -> dict[int, float]:
    """For one query: file number -> end of the trigger that consumed it."""
    return {f: progress_end_ms(p) for p in progresses for f in consumed_files(p)}


def file_latencies_ms(
    progresses: Iterable[dict], due_ms: Sequence[float]
) -> dict[int, float]:
    """Latency per file for one query: from the file's due time to the end of
    the trigger that consumed it. Files not yet consumed are absent."""
    ends = consumed_end_ms(progresses)
    return {f: ends[f] - due for f, due in enumerate(due_ms) if f in ends}
