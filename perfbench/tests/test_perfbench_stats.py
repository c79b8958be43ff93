import datetime
import decimal

import numpy as np
import pytest

from perfbench.stats import percentile, tail_percentile, value_hash


@pytest.mark.parametrize(
    "n, expected",
    [(0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
     (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    assert tail_percentile(n) == expected


def test_percentile_matches_numpy_linear():
    xs = [5.0, 1.0, 9.0, 3.0, 7.5, 2.25, 8.0]
    for p in (0, 10, 25, 50, 75, 90, 100):
        assert percentile(xs, p) == pytest.approx(np.percentile(xs, p))


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        percentile([], 50)


def test_value_hash_ignores_row_and_column_order():
    rows = [(1, "a", 0.5), (2, "b", None)]
    flipped = [("b", None, 2), ("a", 0.5, 1)]
    assert value_hash(rows, ["id", "s", "x"]) == value_hash(flipped, ["s", "x", "id"])


def test_value_hash_sees_values_and_names():
    base = value_hash([(1, "a")], ["id", "s"])
    assert value_hash([(1, "b")], ["id", "s"]) != base
    assert value_hash([(1, "a")], ["id", "t"]) != base
    assert value_hash([(1, "a"), (1, "a")], ["id", "s"]) != base


def test_value_hash_renders_both_engines_alike():
    class Row(tuple):  # the shape of a Spark struct value
        def asDict(self):
            return {"k": self[0], "v": self[1]}

    spark_row = [(decimal.Decimal("1.50"), Row((1, 2.0)), [1, 2],
                  datetime.datetime(2024, 1, 1), True)]
    duck_row = [(1.5, {"k": 1, "v": 2.0}, (1, 2), datetime.datetime(2024, 1, 1), 1)]
    cols = ["d", "s", "l", "t", "b"]
    assert value_hash(spark_row, cols) == value_hash(duck_row, cols)
