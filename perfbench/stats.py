"""Percentiles, the stream's file-to-batch mapping and latency from due time."""

from __future__ import annotations

import json
import math
import os

MIN_BEYOND = 10  # samples a reported percentile must have beyond it


class InsufficientSamples(ValueError):
    pass


def beyond(n: int, q: float) -> int:
    """Samples ranked strictly above the nearest-rank ``q`` percentile."""
    return n - max(1, math.ceil(q * n))


def percentile(values, q: float, min_beyond: int = MIN_BEYOND) -> float:
    """Nearest-rank percentile; refuses when fewer than ``min_beyond``
    samples lie beyond it, so a tail figure always rests on a sample."""
    xs = sorted(values)
    if not xs or beyond(len(xs), q) < min_beyond:
        raise InsufficientSamples(
            f"p{q * 100:g} of {len(xs)} samples has fewer than {min_beyond} beyond it"
        )
    return xs[max(1, math.ceil(q * len(xs))) - 1]


def median(values) -> float:
    """Plain median (no tail rule): for per-layer summaries of few samples."""
    xs = sorted(values)
    if not xs:
        return 0.0
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2


def file_source_log(checkpoint: str, source: int = 0) -> dict[str, int]:
    """{file name: batch id} from a file-source query's own metadata log
    (``<checkpoint>/sources/<n>/<batch>[.compact]``): the exact record
    of which micro-batch read which file."""
    d = os.path.join(checkpoint, "sources", str(source))
    out: dict[str, int] = {}
    for name in os.listdir(d):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(d, name)) as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue  # the "v1" version header
                rec = json.loads(line)
                out[os.path.basename(rec["path"])] = int(rec["batchId"])
    return out


def file_latencies(
    due: dict[str, float], batch_of: dict[str, int], committed: dict[int, float]
) -> dict[str, float]:
    """Per file: time from when it was due to the return of the sink
    call for the micro-batch that read it. Files not yet committed are
    left out (the caller counts them as missing)."""
    out = {}
    for f, t_due in due.items():
        b = batch_of.get(f)
        if b is not None and b in committed:
            out[f] = committed[b] - t_due
    return out
