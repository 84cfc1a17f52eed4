"""The bench's host probe settle rule (bench.py ``probe_settled`` /
``probe_value``): a window settles only once its reps agree within 6%
and have stopped falling, so a slow ramp is never read as the floor."""

import importlib.util
import os

import pytest

_BENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py"
)


@pytest.fixture(scope="module")
def bench():
    spec = importlib.util.spec_from_file_location("_bench", _BENCH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("window, settled", [
    ([2.00, 2.02, 2.01], True),
    ([2.05, 2.00, 2.03], True),
    ([2.00, 2.00, 2.00], True),
    ([2.10, 2.08, 2.06], False),   # within 6% but still falling
    ([2.04, 2.06, 2.02], False),   # the last rep is a new low
    ([2.00, 2.30, 2.10], False),   # spread past 6%
])
def test_probe_settles_only_once_it_stops_falling(bench, window, settled):
    assert bench.probe_settled(window) is settled


def test_probe_value(bench):
    assert bench.probe_value([2.7, 2.2, 2.0, 2.02, 2.01]) == pytest.approx(
        (2.0 + 2.02 + 2.01) / 3)
    # a ramp that never settles reads its lowest rolling 3-mean
    ramp = [2.6, 2.4, 2.3, 2.2, 2.1, 2.0]
    assert bench.probe_value(ramp) == pytest.approx((2.2 + 2.1 + 2.0) / 3)
    assert bench.PROBE_METHOD.endswith("settle-v2")
