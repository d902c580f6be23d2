"""Envelope checks: is each sketch answer within its family's published
bound of the exact answer?

* HLL: ``|estimate - exact| <= hll_envelope_bound(p) * exact``, the
  3-sigma gate of ``operators.verify`` (3 * 1.04 / sqrt(2^p)); an empty
  group must estimate exactly 0.
* Count-Min: a point estimate never undercounts and overcounts by at
  most ``eps * N``, with ``eps = e / width`` and ``N`` the stream length
  (the number of values the sketch counted); the total is exact.
* DDSketch: each quantile lies within relative ``alpha`` of the order
  statistic at rank ``floor(q * (n - 1))``, and ``n`` is exact.
"""

from __future__ import annotations

import math


def hll_bound(precision: int) -> float:
    from zetasketch_spark.operators.verify import hll_envelope_bound

    return hll_envelope_bound(precision)


def order_statistic(hist, rank: int):
    """Value at 0-based ``rank`` of a sorted ``[[value, count], ...]``
    histogram."""
    seen = 0
    for value, count in hist:
        seen += count
        if rank < seen:
            return value
    raise ValueError(f"rank {rank} beyond {seen} values")


class Checker:
    """Collects failures and the largest HLL relative error of one op."""

    def __init__(self):
        self.failures: list[str] = []
        self.max_rel_error = 0.0
        self.hll_answers = 0

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def exact(self, what: str, got, want) -> None:
        if got != want:
            self.fail(f"{what}: got {got!r}, want {want!r}")

    def hll(self, what: str, estimate, exact: int, precision: int) -> None:
        self.hll_answers += 1
        if estimate is None:
            self.fail(f"{what}: no estimate (exact {exact})")
            return
        if exact == 0:
            if estimate != 0:
                self.fail(f"{what}: estimate {estimate} for an empty group")
            return
        rel = abs(estimate - exact) / exact
        self.max_rel_error = max(self.max_rel_error, rel)
        bound = hll_bound(precision)
        if rel > bound:
            self.fail(f"{what}: estimate {estimate} vs exact {exact} "
                      f"(rel {rel:.4f} > bound {bound:.4f})")

    def countmin(self, what: str, estimate, exact: int, n: int,
                 width: int) -> None:
        bound = math.e / width * n
        if estimate is None or not 0 <= estimate - exact <= bound:
            self.fail(f"{what}: estimate {estimate} vs exact {exact} "
                      f"(bound 0..{bound:.2f} over, N {n})")

    def ddsketch(self, what: str, estimates, n_est, hist, quantiles,
                 alpha: float) -> None:
        n = sum(c for _, c in hist)
        self.exact(f"{what} n", n_est, n)
        for q, est in zip(quantiles, estimates):
            want = order_statistic(hist, math.floor(q * (n - 1)))
            if est is None or abs(est - want) > alpha * abs(want) + 1e-9:
                self.fail(f"{what} q{q}: estimate {est} vs order "
                          f"statistic {want} (alpha {alpha})")
