"""Field-boosted BM25 (the reference's `id^10` multi_match analog,
apiserver/apiserver/search/__init__.py:65-77), served at query time by
``query/cross_fields.py``."""


def test_cross_fields_duplicate_query_terms(spark):
    """ADVICE (r2, low): duplicated query terms must not make the
    distinct-term AND gate unsatisfiable."""
    from datamart_spark.corpus import generate_documents, _VOCAB
    from datamart_spark.query.cross_fields import cross_fields_topk

    docs = generate_documents(spark, 300)
    t = _VOCAB[60]
    a = [(r["doc_id"], r["score"])
         for r in cross_fields_topk(spark, docs, [t], k=10).collect()]
    b = [(r["doc_id"], r["score"])
         for r in cross_fields_topk(spark, docs, [t, t], k=10).collect()]
    assert a == b and len(a) > 0
