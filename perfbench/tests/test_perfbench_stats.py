"""The percentile rule: report the highest ladder percentile that has at
least ten samples beyond it."""

import numpy as np
import pytest

from stats import percentile, tail_percentile


@pytest.mark.parametrize(
    "n, want",
    [(5, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
     (100, 90.0), (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want


def test_tail_percentile_leaves_ten_samples_beyond():
    for n in range(20, 3000, 7):
        p = tail_percentile(n)
        xs = list(range(n))
        assert sum(x > percentile(xs, p) for x in xs) >= 10 - 1  # ties at the cut
        assert n * (1 - p / 100) >= 10 - 1e-9


def test_percentile_matches_numpy_linear():
    rng = np.random.default_rng(0)
    xs = rng.exponential(size=57).tolist()
    for p in (0, 10, 50, 90, 95, 100):
        assert percentile(xs, p) == pytest.approx(np.percentile(xs, p))
