"""Exact join containment (J8)."""

import pytest

from datamart_spark.operators.discovery import containment_score


def test_containment_score(spark):
    left = spark.createDataFrame([(i,) for i in range(10)], "k int")
    right = spark.createDataFrame([(i,) for i in range(5, 30)], "k int")
    assert containment_score(left, "k", right, "k") == pytest.approx(0.5)
    empty = spark.createDataFrame([], "k int")
    assert containment_score(empty, "k", right, "k") == 0.0
