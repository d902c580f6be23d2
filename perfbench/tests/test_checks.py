import math

import pytest

from perfbench.checks import Checker, hll_bound, order_statistic


@pytest.mark.parametrize("p", [10, 12, 15, 18])
def test_hll_bound_is_three_sigma_of_published_error(p):
    assert hll_bound(p) == pytest.approx(3 * 1.04 / math.sqrt(2 ** p))


def test_hll_inside_and_outside_envelope():
    chk = Checker()
    b = hll_bound(15)
    chk.hll("in", round(10_000 * (1 + 0.9 * b)), 10_000, 15)
    assert not chk.failures
    assert chk.max_rel_error == pytest.approx(0.9 * b, rel=1e-3)
    chk.hll("out", round(10_000 * (1 + 1.1 * b)), 10_000, 15)
    assert len(chk.failures) == 1 and chk.failures[0].startswith("out")


def test_hll_empty_group_must_estimate_zero():
    chk = Checker()
    chk.hll("empty", 0, 0, 12)
    assert not chk.failures
    chk.hll("empty", 1, 0, 12)
    chk.hll("missing", None, 5, 12)
    assert len(chk.failures) == 2


def test_countmin_bound_is_eps_times_n():
    chk = Checker()
    n, exact = 100_000, 700
    slack = math.e / 4096 * n
    chk.countmin("ok", exact + math.floor(slack), exact, n, 4096)
    chk.countmin("exact", exact, exact, n, 4096)
    assert not chk.failures
    chk.countmin("over", exact + math.ceil(slack) + 1, exact, n, 4096)
    chk.countmin("under", exact - 1, exact, n, 4096)
    chk.countmin("missing", None, exact, n, 4096)
    assert len(chk.failures) == 3


def test_countmin_points_answer_every_key_within_the_bound():
    import json

    import pandas as pd

    from perfbench.tracing import CountMinPoints

    fam = CountMinPoints(["a", "b", "absent"], width=64, depth=3)
    values = pd.Series(["a"] * 50 + ["b"] * 7 + [f"x{i}" for i in range(40)]
                       + [None] * 5)
    state = fam.update(fam.make(), values)
    state = fam.deserialize(fam.serialize(state))
    total, points = fam.result(state)
    assert total == 97
    assert dict(fam.result_fields) == {"total": "bigint", "points": "string"}
    chk = Checker()
    for est, exact in zip(json.loads(points), (50, 7, 0)):
        chk.countmin("point", est, exact, total, 64)
    assert not chk.failures


def test_order_statistic_of_histogram():
    hist = [[29, 2], [35, 3], [41, 1]]
    assert [order_statistic(hist, r) for r in range(6)] == [29, 29, 35, 35, 35, 41]
    with pytest.raises(ValueError):
        order_statistic(hist, 6)


def test_ddsketch_relative_alpha_at_floor_rank():
    hist = [[100, 50], [200, 40], [1000, 10]]  # n = 100
    chk = Checker()
    # q50 -> rank floor(0.5 * 99) = 49 -> 100; q90 -> rank 89 -> 200;
    # q99 -> rank 98 -> 1000
    chk.ddsketch("len", [100.9, 198.5, 1009.0], 100, hist, (0.5, 0.9, 0.99), 0.01)
    assert not chk.failures
    chk.ddsketch("len", [102.0, 200.0, 1000.0], 100, hist, (0.5, 0.9, 0.99), 0.01)
    chk.ddsketch("len", [100.0, 200.0, 1000.0], 99, hist, (0.5, 0.9, 0.99), 0.01)
    assert len(chk.failures) == 2
