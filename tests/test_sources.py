"""Pivot detection (S10) and keyset pagination (W5)."""

from datamart_spark.operators.discovery import looks_pivoted


def test_looks_pivoted():
    # reference rule (materialize.py:244-248): ≥3 columns, non-date
    # column count ≤ max(2, 20%·n)
    assert looks_pivoted(["country", "2001", "2002", "2003"])
    assert looks_pivoted(["country", "gdp", "2001"])  # 2 non-dates allowed
    assert not looks_pivoted(["country", "gdp", "pop", "2001", "2002"])  # 3 > 2
    assert not looks_pivoted(["country", "2001"])  # <3 columns


def test_keyset_pagination_walks_all_pages(spark, tmp_path):
    from datamart_spark.query.search import paginate

    df = spark.createDataFrame(
        [(i % 7, i) for i in range(100)], "grp int, seq int"
    )
    seen = []
    after = None
    while True:
        page = paginate(df, ["grp", "seq"], page_size=30, after=after).collect()
        if not page:
            break
        seen.extend((r["grp"], r["seq"]) for r in page)
        after = (page[-1]["grp"], page[-1]["seq"])
    assert seen == sorted(((i % 7, i) for i in range(100)))
    assert len(seen) == 100
