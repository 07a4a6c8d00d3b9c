"""Small pure helpers: medians, the tail-percentile rule and seed windows."""

from __future__ import annotations

import math
import statistics

# synth image ids are "img-%012d" of the row id, so there are MAX_SEED
# windows of WINDOW_ROWS row ids each. A window size that is a multiple
# of the generator's 1000-row duplicate period and of the 100-row
# corruption period gives every window the same planted patterns. Any
# integer is a valid seed: it selects window ``seed % MAX_SEED``, so
# seeds in [0, MAX_SEED) never share a row
WINDOW_ROWS = 1_000_000
MAX_SEED = 10**12 // WINDOW_ROWS

# percentiles considered for the tail, highest first
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def seed_window(seed: int, n_rows: int) -> tuple[int, int]:
    """[start, end) of the synth row ids that ``seed`` selects."""
    if not 0 < n_rows <= WINDOW_ROWS:
        raise ValueError(f"n_rows must be in (0, {WINDOW_ROWS}], got {n_rows}")
    start = (seed % MAX_SEED) * WINDOW_ROWS
    return start, start + n_rows


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def nearest_rank(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``pct`` percent of the samples at or below it."""
    s = sorted(values)
    k = max(1, math.ceil(round(pct / 100.0 * len(s), 9)))
    return float(s[k - 1])


def tail(values: list[float]) -> dict | None:
    """The highest percentile in TAIL_PERCENTILES that leaves at least
    TAIL_MIN_BEYOND samples strictly above its value, with that
    percentile and the sample count; None when no percentile qualifies."""
    n = len(values)
    for pct in TAIL_PERCENTILES:
        v = nearest_rank(values, pct)
        if sum(1 for x in values if x > v) >= TAIL_MIN_BEYOND:
            return {"value": v, "percentile": pct, "n": n}
    return None
