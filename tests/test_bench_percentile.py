"""The soak modes of bench.py share one nearest-rank p95."""

from __future__ import annotations

import pytest


@pytest.mark.parametrize("n,want", [(1, 0), (20, 18), (21, 19), (100, 94)])
def test_p95_is_nearest_rank(n, want):
    import bench

    # ceil(0.95 n)-th smallest value, input order irrelevant
    assert bench._p95(list(reversed(range(n)))) == want
