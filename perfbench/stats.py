"""Summary statistics for the benchmark: tail percentiles and failure counts."""

from __future__ import annotations

import math
from dataclasses import dataclass, field

MIN_BEYOND = 10


def min_samples_for(p: float, min_beyond: int = MIN_BEYOND) -> int:
    """Fewest samples for which at least ``min_beyond`` lie beyond the p-th
    percentile (nearest-rank), e.g. 100 for p90."""
    n = min_beyond
    while n - math.ceil(p * n) < min_beyond:
        n += 1
    return n


def tail_percentile(samples: list[float], p: float, min_beyond: int = MIN_BEYOND) -> float:
    """Nearest-rank p-th percentile (0 < p < 1), refused unless at least
    ``min_beyond`` samples lie beyond it."""
    xs = sorted(samples)
    rank = math.ceil(p * len(xs))
    if rank < 1 or len(xs) - rank < min_beyond:
        raise ValueError(
            f"p{p * 100:g} of {len(xs)} samples has {max(len(xs) - rank, 0)} beyond it, "
            f"needs {min_beyond}"
        )
    return xs[rank - 1]


@dataclass
class Outcomes:
    """Counts operations attempted and failed; a wrong result is a failure."""

    attempted: int = 0
    failed: int = 0
    reasons: list[str] = field(default_factory=list)

    def record(self, ok: bool, what: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.reasons.append(what)
        return ok

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
