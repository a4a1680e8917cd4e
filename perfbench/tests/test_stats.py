"""Metric arithmetic: geomean, the tail rule and fail_frac counting."""

import math

import pandas as pd
import pytest

from perfbench import checks
from perfbench.stats import (OpLog, end_to_end, geomean, lat_geomean,
                             ops_per_s, tail)


def test_geomean():
    assert geomean([2.0, 8.0]) == pytest.approx(4.0)
    assert geomean([5.0]) == pytest.approx(5.0)
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        geomean([])


def test_lat_geomean_is_geomean_of_per_key_medians():
    samples = {"a": [1.0, 100.0, 2.0], "b": [8.0, 8.0]}
    # medians 2 and 8 -> geomean 4, the outlier 100 does not move it
    assert lat_geomean(samples) == pytest.approx(4.0)


def test_tail_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 31)]  # 30 samples
    t = tail(xs)
    beyond = [x for x in xs if x > t.value]
    assert len(beyond) == 10
    assert t.value == 20.0
    assert t.percentile == pytest.approx(100 * 20 / 30)
    assert t.samples == 30


def test_tail_at_twenty_one_samples_is_the_median():
    t = tail([float(i) for i in range(21, 0, -1)])
    assert t.value == 11.0 and t.percentile == pytest.approx(100 * 11 / 21)


def test_tail_without_enough_samples_reports_the_median():
    t = tail([3.0, 1.0, 2.0])
    assert (t.value, t.percentile, t.samples) == (2.0, 50.0, 3)
    # 12 samples: the rule would give p17, below the median
    t = tail([float(i) for i in range(12)])
    assert (t.value, t.percentile) == (5.5, 50.0)


def test_fail_frac_counts_raised_ops_and_every_op_of_a_wrong_key():
    log = OpLog()
    for _ in range(3):
        log.ok("a", 1.0)
        log.ok("b", 2.0)
    log.error()
    assert (log.attempted, log.failed) == (7, 1)
    log.mark_wrong("b")
    assert log.failed == 4
    assert log.fail_frac == pytest.approx(4 / 7)


class _FakeOracle:
    def __init__(self, df):
        self.want = {"hash": checks.canon(df), "rows": len(df)}

    def expected(self, sql):
        return self.want


def test_injected_wrong_result_counts_as_failure():
    right = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    wrong = right.assign(v=[0.5, 1.5, 2.6])
    cache = _FakeOracle(right)
    # row order and column order do not matter to the canonical hash
    assert checks.check_entry("q", right.iloc[::-1][["v", "k"]], "sql",
                              cache) is None
    err = checks.check_entry("q", wrong, "sql", cache)
    assert err is not None

    log = OpLog()
    for _ in range(4):
        log.ok("q", 1.0)
        log.ok("r", 1.0)
    results = {"q": err, "r": None}
    for key, e in results.items():
        if e is not None:
            log.mark_wrong(key)
    assert log.failed == 4 and log.fail_frac == pytest.approx(0.5)


def test_row_pin_for_oracle_less_entries():
    df = pd.DataFrame({"x": range(checks.ROW_PINS["dedup_minhash_lsh"])})
    assert checks.check_entry("dedup_minhash_lsh", df, None, None) is None
    assert checks.check_entry("dedup_minhash_lsh", df.head(0), None,
                              None) is not None
    assert checks.check_entry("unpinned", df, None, None) is not None


def test_end_to_end_metrics():
    log = OpLog()
    for i in range(12):
        log.ok("a", 1.0 + i)
    log.ok("b", 4.0)
    metrics, detail = end_to_end(log, timed_s=13.0, setup_s=2.5)
    assert metrics["ops_per_s"]["value"] == pytest.approx(1.0)
    assert metrics["lat_geomean_s"]["value"] == pytest.approx(
        math.sqrt(6.5 * 4.0))
    assert metrics["setup_s"] == {"value": 2.5, "unit": "s"}
    assert all(set(m) == {"value", "unit"} for m in metrics.values())
    assert detail["lat_samples"] == 13


def test_ops_per_s_is_the_median_unit_rate():
    log = OpLog()
    for _ in range(6):
        log.ok("a", 1.0)
    # whole phase without units: 6 ops in 12 s
    assert ops_per_s(log, 12.0) == pytest.approx(0.5)
    log.unit(2, 2.0)
    log.unit(2, 4.0)
    log.unit(2, 20.0)  # a stall in one unit does not move the median
    assert ops_per_s(log, 26.0) == pytest.approx(0.5)
    metrics, detail = end_to_end(log, timed_s=26.0, setup_s=1.0)
    assert metrics["ops_per_s"]["value"] == pytest.approx(0.5)
    assert detail["unit_rates"] == pytest.approx([1.0, 0.5, 0.1])


def test_unit_count_depends_on_seconds_only():
    from perfbench.workloads import UNIT_S, n_units

    assert n_units(2 * UNIT_S) == 2
    assert n_units(2.4 * UNIT_S) == 2
    assert n_units(0.1) == 1
