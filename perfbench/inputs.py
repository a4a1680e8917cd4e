"""Seeded inputs: the only thing that differs between runs of one
workload.

The seed fixes the query order of every pass, the name-list order handed
to the throughput runner each round, and the micro-batch cut points of
the stateful stream. The program only ever sees the generated orders and
files; it never sees the seed.
"""

from __future__ import annotations

import random


def pass_order(names: list[str], seed: int, workload: str,
               n: int) -> list[str]:
    """The order of `names` for pass (or round) `n`."""
    rng = random.Random(f"{workload}:{seed}:pass:{n}")
    return rng.sample(list(names), len(names))


def cut_points(lo: int, hi: int, n_batches: int, seed: int,
               jitter: float = 0.35) -> list[int]:
    """`n_batches - 1` increasing cut points inside (lo, hi): the even
    1/n quantiles of the range, each moved by up to `jitter` of a
    batch's width."""
    if n_batches < 2 or hi - lo < 2 * n_batches:
        raise ValueError("range too small for the batch count")
    rng = random.Random(f"cuts:{seed}")
    width = (hi - lo) / n_batches
    cuts = [int(lo + width * (k + rng.uniform(-jitter, jitter)))
            for k in range(1, n_batches)]
    if any(b <= a for a, b in zip([lo, *cuts], [*cuts, hi])):
        raise ValueError("cut points not increasing")
    return cuts
