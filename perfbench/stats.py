"""Pure arithmetic behind the benchmark's figures (no Spark, no I/O)."""

from __future__ import annotations

from dataclasses import dataclass

# Candidate tail percentiles, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


@dataclass(frozen=True)
class Tail:
    value: float
    pct: float | None  # None: too few samples for any percentile
    n: int


def tail(values: list[float]) -> Tail:
    """The highest ladder percentile with at least ``MIN_BEYOND`` samples
    beyond it; with too few samples for any (fewer than 40), the maximum,
    reported with ``pct=None``."""
    n = len(values)
    for pct in TAIL_LADDER:
        if n * (100.0 - pct) / 100.0 >= MIN_BEYOND - 1e-9:
            return Tail(percentile(values, pct), pct, n)
    return Tail(max(values), None, n)


def amplification(bytes_on_disk: int, bytes_of_user_data: int) -> float:
    """Bytes written (or stored) per byte of user data."""
    if bytes_of_user_data <= 0:
        raise ValueError("amplification needs a positive base")
    return bytes_on_disk / bytes_of_user_data


@dataclass
class Span:
    name: str
    start: float
    end: float
    span_id: int
    parent: int | None
    op_id: int | None


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the union of its children's intervals
    (clipped to the parent), keyed by span id."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(kids.get(s.span_id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.span_id] = max(s.end - s.start - covered, 0.0)
    return out


def self_time_by_layer(spans: list[Span]) -> dict[str, float]:
    """Self time summed per span name (a span's name is its layer)."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + st[s.span_id]
    return out


def self_times_fit(spans: list[Span], wall: float, slack: float = 1e-3) -> bool:
    """Whether the spans' self times, summed over every layer, fit inside
    ``wall`` seconds: true when spans nest inside their parents and the
    roots of one process do not overlap."""
    return sum(self_times(spans).values()) <= wall + slack
