import pytest

from stats import median, percentile, self_time, tail_percentile, union_length


@pytest.mark.parametrize(
    "n, expected",
    [
        (1, 50),
        (19, 50),   # 9.5 beyond p50: too few for any tail, median fallback
        (20, 50),
        (39, 50),   # 9.75 beyond p75
        (40, 75),
        (41, 75),   # the analytics pass: 10.25 beyond p75, 4.1 beyond p90
        (99, 75),
        (100, 90),
        (200, 95),
        (1000, 99),
    ],
)
def test_tail_percentile_from_sample_count(n, expected):
    assert tail_percentile(n) == expected


def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert median(xs) == 2.5
    assert percentile(xs, 75) == pytest.approx(3.25)


def test_union_length_merges_overlaps_and_clips():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(0, 10)], 2, 4) == 2.0
    assert union_length([(0, 1)], 2, 4) == 0.0


def test_self_time_subtracts_union_of_overlapping_children():
    # run_wave 0..10; results commit 2..7 on one thread overlaps the
    # seen commit 4..6 and the frontier commit 6..8 on others
    children = [(2, 7), (4, 6), (6, 8)]
    assert self_time(0, 10, children) == pytest.approx(4.0)
    # a plain sum would subtract 9 s and under-report self time
    assert sum(e - s for s, e in children) == 9


def test_self_time_ignores_child_time_outside_the_parent():
    assert self_time(0, 10, [(-1, 1), (9, 12)]) == pytest.approx(8.0)
