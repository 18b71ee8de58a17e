"""Discovery scoring (R6/W3/J8) and unpivot (S10)."""

import pytest

from datamart_spark.operators.discovery import (
    containment_score,
    greedy_pair_matching,
    name_similarity,
    union_candidate_score,
    unpivot_wide_years,
)


def test_name_similarity():
    assert name_similarity("date", "date") == 1.0
    assert name_similarity("Date", "the_date_col") == 1.0  # substring → 1.0
    assert name_similarity("abc", "xyz") == 0.0
    # levenshtein("kitten","sitting")=3, max_len=7
    assert name_similarity("kitten", "sitting") == pytest.approx(1 - 3 / 7)


def test_greedy_pair_matching():
    pairs = [
        ("a", "x", 0.9),
        ("a", "y", 0.8),
        ("b", "x", 0.85),
        ("b", "y", 0.7),
    ]
    got = greedy_pair_matching(pairs)
    # best pair (a,x)=0.9 taken → (b,x) blocked → (b,y)=0.7
    assert got == [("a", "x", 0.9), ("b", "y", 0.7)]


def test_union_candidate_score():
    score, matched = union_candidate_score(
        ["date", "value", "city"], ["date", "amount", "town"], es_score=2.0
    )
    assert len(matched) >= 2
    assert score > 0
    # single-pair candidates are dropped (union.py:177-190)
    score1, m1 = union_candidate_score(["date", "qqq"], ["date"], es_score=2.0)
    assert score1 == 0.0


def test_containment_score(spark):
    left = spark.createDataFrame([(i,) for i in range(10)], "k int")
    right = spark.createDataFrame([(i,) for i in range(5, 30)], "k int")
    assert containment_score(left, "k", right, "k") == pytest.approx(0.5)
    empty = spark.createDataFrame([], "k int")
    assert containment_score(empty, "k", right, "k") == 0.0


def test_unpivot_wide_years(spark):
    df = spark.createDataFrame(
        [("us", 10.0, 11.0), ("fr", 20.0, 21.0)],
        "country string, `2001` double, `2002` double",
    )
    out = unpivot_wide_years(df, ["country"], ["2001", "2002"])
    rows = sorted(tuple(r) for r in out.collect())
    assert rows == [
        ("fr", "2001", 20.0),
        ("fr", "2002", 21.0),
        ("us", "2001", 10.0),
        ("us", "2002", 11.0),
    ]
