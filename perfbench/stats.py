"""Pure helpers: percentiles, the join of streaming progress to commit
LSNs, and the per-batch figures derived from progress events."""

from __future__ import annotations

import bisect
import json
import math
from collections.abc import Sequence
from datetime import datetime

MIN_TAIL = 10  # samples that must lie beyond a reported percentile


def supports(n: int, pct: float) -> bool:
    """True when `n` samples leave at least MIN_TAIL of them above the
    `pct` percentile."""
    return n * (100.0 - pct) / 100.0 >= MIN_TAIL - 1e-9


def percentile(samples: Sequence[float], pct: float) -> float:
    """Nearest-rank percentile; raises when the sample count cannot
    support `pct` (fewer than MIN_TAIL samples beyond it)."""
    n = len(samples)
    if not supports(n, pct):
        raise ValueError(f"p{pct:g} needs {MIN_TAIL} samples beyond it; have n={n}")
    ordered = sorted(samples)
    return ordered[max(0, math.ceil(pct / 100.0 * n) - 1)]


def highest_supported(n: int, wanted: Sequence[float] = (99.9, 99, 95, 90, 50)) -> float | None:
    return next((p for p in wanted if supports(n, p)), None)


def batch_frontier(progress: Sequence[dict]) -> list[tuple[int, float]]:
    """[(end_lsn, end_wall_s)] for every micro-batch that read rows, in
    batch order. A batch's mirror commit lands when the batch ends:
    progress `timestamp` (batch start) plus `triggerExecution`."""
    out = []
    for p in sorted(progress, key=lambda p: p["batchId"]):
        if not p["numInputRows"]:
            continue
        out.append((p["end_lsn"], p["start_s"] + p["durationMs"].get("triggerExecution", 0) / 1e3))
    return out


def visible_latencies_ms(
    txns: Sequence[tuple[int, float]], frontier: Sequence[tuple[int, float]]
) -> list[float]:
    """Join transactions to the batch whose mirror commit contains them.

    `txns` holds (commit_lsn, due_wall_s) per transaction; `frontier`
    holds (end_lsn, end_wall_s) per batch from `batch_frontier`. A
    transaction is visible at the end of the first batch whose end
    offset reaches its commit LSN. Raises if a transaction never became
    visible."""
    ends = [e for e, _t in frontier]
    out = []
    for lsn, due in txns:
        i = bisect.bisect_left(ends, lsn)
        if i == len(ends):
            raise ValueError(f"transaction at LSN {lsn} is in no committed batch")
        out.append((frontier[i][1] - due) * 1e3)
    return out


def rows_committed(frontier: Sequence[tuple[int, float]],
                   segments: Sequence[tuple[int, int]]) -> list[tuple[float, int]]:
    """[(end_wall_s, rows)] per batch: the rows of the segments
    (end_lsn, rows) each batch's end offset newly covers. Counted from
    the segments, since `numInputRows` counts every re-read of a batch."""
    segs = sorted(segments)
    out, i = [], 0
    for end_lsn, end_s in frontier:
        n = 0
        while i < len(segs) and segs[i][0] <= end_lsn:
            n += segs[i][1]
            i += 1
        out.append((end_s, n))
    return out


def progress_record(p) -> dict:
    """Plain dict from a pyspark StreamingQueryProgress."""
    end = p.sources[0].endOffset if p.sources else None
    end_lsn = json.loads(end)["lsn"] if end else -1
    start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
    return {
        "batchId": p.batchId,
        "numInputRows": p.numInputRows,
        "start_s": start,
        "durationMs": dict(p.durationMs),
        "end_lsn": end_lsn,
    }


def median(values: Sequence[float]) -> float:
    ordered = sorted(values)
    n = len(ordered)
    mid = n // 2
    return ordered[mid] if n % 2 else (ordered[mid - 1] + ordered[mid]) / 2
