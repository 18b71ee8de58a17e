"""Keyset pagination (W5)."""


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
