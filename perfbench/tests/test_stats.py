import numpy as np
import pytest

from stats import median, percentile, summary


@pytest.mark.parametrize("xs", [[3.0], [1.0, 2.0], [5, 1, 4, 2, 3],
                                [0.1 * i * i for i in range(17)]])
@pytest.mark.parametrize("q", [0, 10, 25, 50, 90, 100])
def test_percentile_matches_numpy_linear(xs, q):
    assert percentile(xs, q) == pytest.approx(np.percentile(xs, q))


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_median_of_even_sample_interpolates():
    assert median([4, 1, 3, 2]) == 2.5


def test_summary_counts_the_p90_tail():
    s = summary(range(1, 101))
    assert s["n"] == 100
    assert s["p50"] == pytest.approx(50.5)
    assert s["p90"] == pytest.approx(90.1)
    assert s["p90_tail"] == 10
    assert (s["min"], s["max"]) == (1.0, 100.0)

