"""Summary statistics and failure accounting for the benchmark."""

from __future__ import annotations

import statistics

# A percentile is reported only when at least this many samples lie beyond it.
MIN_TAIL_SAMPLES = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in (0, 100]) of a non-empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0 < q <= 100:
        raise ValueError(f"percentile must be in (0, 100], got {q}")
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * q // 100))  # ceil(n * q / 100)
    return ordered[int(rank) - 1]


def tail_count(n: int, q: float) -> int:
    """Samples strictly beyond the nearest-rank q-th percentile of n samples."""
    return n - int(max(1, -(-n * q // 100)))


def supported(n: int, q: float) -> bool:
    """True when a sample of n leaves at least MIN_TAIL_SAMPLES beyond q."""
    return n > 0 and tail_count(n, q) >= MIN_TAIL_SAMPLES


def highest_supported(n: int, candidates=(99, 95, 90, 75, 50)) -> float | None:
    """The highest candidate percentile that a sample of n supports."""
    for q in sorted(candidates, reverse=True):
        if supported(n, q):
            return q
    return None


def summarize(values: list[float]) -> dict:
    """Median, the highest supported tail percentile, and the sample count."""
    out: dict = {"n": len(values)}
    if not values:
        return out
    out["p50"] = statistics.median(values)
    q = highest_supported(len(values), candidates=(99, 95, 90, 75))
    if q is not None:
        out[f"p{q:g}"] = percentile(values, q)
    return out


class Tally:
    """Counts operations attempted and failed; a failed check counts too."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def op(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}" if detail else name)
        return ok

    @property
    def fail_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
