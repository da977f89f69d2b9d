"""Pure functions behind the benchmark's correctness check and per-layer
metrics. Nothing here starts Spark, so ``test_layers.py`` pins them
without a session."""

from __future__ import annotations

import re

from tests.parity import result_hash

# ------------------------------------------------------------ result digest


def result_digest(cols, rows) -> dict:
    """What a reference and a run are compared on: the column-name set, the
    row count and the order-insensitive hash of ``tests/parity.py``, whose
    normalisation the oracle parity tests use (floats compared exactly)."""
    n, h = result_hash(cols, rows)
    return {"cols": sorted(cols), "rows": n, "digest": h}


# -------------------------------------------------------------- intervals


def _merged(intervals) -> list[list[float]]:
    """Non-empty ``(start, end)`` intervals merged into disjoint ones, in
    order. Overlapping or touching intervals become one."""
    out: list[list[float]] = []
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``(start, end)`` intervals, each clipped to
    ``[lo, hi]`` when given. Overlaps count once."""
    clipped = [
        (s if lo is None else max(s, lo), e if hi is None else min(e, hi))
        for s, e in intervals
    ]
    return sum(e - s for s, e in _merged(clipped))


def uncovered_length(intervals, start: float, end: float) -> float:
    """Total length of the gaps of the window ``[start, end]`` that no
    interval covers."""
    gaps, cursor = 0.0, start
    for s, e in _merged(intervals):
        if cursor >= end:
            break
        if s > cursor:
            gaps += min(s, end) - cursor
        cursor = max(cursor, e)
    return gaps + max(0.0, end - cursor)


def busy_idle(stage_spans, start: float, end: float) -> tuple[float, float]:
    """Busy time (the union of the stage spans, not clipped) and idle time
    (the gaps between them inside the window ``[start, end]``).
    ``busy + idle == end - start`` holds only when every span lies inside
    the window: the part of a span outside it adds to busy and not to the
    window, so a stage attributed to the wrong window shows."""
    return union_length(stage_spans), uncovered_length(stage_spans, start, end)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of it that its
    children cover. Spans are dicts with ``id``, ``parent``, ``start`` and
    ``end``; a root has ``parent`` None."""
    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - union_length(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


# ------------------------------------------------- status-store rendering

_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _first_total(text: str, pattern: str):
    """SQL metrics render either as one value ('2.1 MiB') or, when several
    tasks reported, as a 'total (min, med, max ...)' header line followed
    by the total and its breakdown. The first line that starts with a value
    holds the total."""
    for line in text.strip().splitlines():
        m = re.match(pattern, line.strip())
        if m:
            return m
    return None


def parse_size(text: str) -> int | None:
    """Bytes of a rendered size metric, or None if it is not a size."""
    m = _first_total(text, r"([\d.]+)\s*(B|KiB|MiB|GiB|TiB)\b")
    return int(float(m.group(1)) * _SIZE_UNITS[m.group(2)]) if m else None


def parse_duration(text: str) -> float | None:
    """Seconds of a rendered timing metric ('345 ms', '1.2 s', '2.0 m'), or
    None if it is not a duration."""
    m = _first_total(text, r"([\d.]+)\s*(ms|s|m|h)\b")
    return float(m.group(1)) * _TIME_UNITS[m.group(2)] if m else None
