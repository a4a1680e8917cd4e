"""Summary statistics for the end-to-end metrics.

Pure functions over lists of floats, so the benchmark's arithmetic is
testable without Spark.
"""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field

#: A tail percentile is reported only with this many samples beyond it.
TAIL_BEYOND = 10


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values (TPCx-BB's power-test score)."""
    if not values or min(values) <= 0:
        raise ValueError("geomean needs at least one value, all positive")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def lat_geomean(samples: dict[str, list[float]]) -> float:
    """Geometric mean over keys (queries or stateful ops) of each key's
    median latency."""
    return geomean([statistics.median(v) for v in samples.values() if v])


@dataclass(frozen=True)
class Tail:
    value: float
    percentile: float  # share of samples at or below `value`, in %
    samples: int


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> Tail:
    """The highest percentile that still has at least `beyond` samples
    strictly above it in rank: the (beyond+1)-th largest sample.

    A tail is never below the median: with fewer than 2*beyond+1 samples
    the rule lands below p50, so the median is returned, labelled p50,
    and the record says what it holds.
    """
    if not values:
        raise ValueError("tail of no samples")
    xs = sorted(values)
    n = len(xs)
    if n < 2 * beyond + 1:
        return Tail(statistics.median(xs), 50.0, n)
    return Tail(xs[n - beyond - 1], 100.0 * (n - beyond) / n, n)


@dataclass
class OpLog:
    """Per-op outcomes of one timed phase.

    An op fails when it raised, or when its key's output check failed:
    a wrong result makes every op of that key a failure. A timed unit
    (a round of streams, a drain of the stateful stream) records its
    completed ops and its wall time.
    """

    latencies: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    raised: int = 0
    wrong_keys: set[str] = field(default_factory=set)
    units: list[tuple[int, float]] = field(default_factory=list)
    _ops_per_key: dict[str, int] = field(default_factory=dict)

    def ok(self, key: str, seconds: float) -> None:
        self.attempted += 1
        self._ops_per_key[key] = self._ops_per_key.get(key, 0) + 1
        self.latencies.setdefault(key, []).append(seconds)

    def error(self, n: int = 1) -> None:
        self.attempted += n
        self.raised += n

    def unit(self, ops: int, seconds: float) -> None:
        self.units.append((ops, seconds))

    def mark_wrong(self, key: str) -> None:
        self.wrong_keys.add(key)

    @property
    def failed(self) -> int:
        return self.raised + sum(self._ops_per_key.get(k, 0)
                                 for k in self.wrong_keys)

    @property
    def fail_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0

    def all_latencies(self) -> list[float]:
        return [x for v in self.latencies.values() for x in v]


def ops_per_s(log: OpLog, timed_s: float) -> float:
    """Completed ops per second: the median over the timed units of each
    unit's rate, so that a stall confined to one unit does not move it;
    over the whole timed phase when no unit was recorded."""
    rates = [n / s for n, s in log.units if s > 0]
    if rates:
        return statistics.median(rates)
    return len(log.all_latencies()) / timed_s


def end_to_end(log: OpLog, timed_s: float,
               setup_s: float) -> tuple[dict, dict]:
    """The end-to-end metrics of one run, plus the detail that goes with
    them (tail percentile and sample count, per-key medians)."""
    lat = log.all_latencies()
    if not lat:
        raise RuntimeError("no op completed in the timed phase")
    t = tail(lat)
    metrics = {
        "ops_per_s": {"value": ops_per_s(log, timed_s), "unit": "1/s"},
        "lat_geomean_s": {"value": lat_geomean(log.latencies), "unit": "s"},
        "lat_p50_s": {"value": statistics.median(lat), "unit": "s"},
        "lat_tail_s": {"value": t.value, "unit": "s"},
        "setup_s": {"value": setup_s, "unit": "s"},
    }
    detail = {
        "lat_tail_percentile": t.percentile,
        "lat_samples": t.samples,
        "timed_s": timed_s,
        "unit_rates": [n / s for n, s in log.units if s > 0],
        "fail_frac": log.fail_frac,
        "median_by_key": {k: statistics.median(v)
                          for k, v in sorted(log.latencies.items())},
    }
    return metrics, detail
