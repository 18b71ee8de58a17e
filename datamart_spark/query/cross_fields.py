"""`cross_fields` multi-field BM25 — the reference's exact query shape.

Every keyword search in the reference is a `multi_match` over
`id^10, description, name, attribute_keywords` with
`type: cross_fields` and `operator: 'and'`
(apiserver/apiserver/search/__init__.py:65-77).  cross_fields is
TERM-centric (Lucene BlendedTermQuery): for each query term,

- document frequency is BLENDED across the grouped fields —
  df(term) = max over fields of df_field(term) — so a term that is
  rare in one field but common in another is not over-rewarded;
- the term's per-document score is the best single field's BM25
  contribution (tie_breaker = 0.0, the ES default: dismax, no echo of
  lesser fields), with the field boost (^10) multiplying that field's
  contribution;
- operator 'and' gates on every term matching in AT LEAST ONE field;
- per-field length norms: dl_field / avgdl_field, where avgdl_field
  averages over documents that HAVE the field (Lucene per-field
  norms).

The webtext corpus analog of the reference's field set: `title` (the
first line of the page text — the `id^10` analog, boosted) and `body`
(the rest).  This is the engine's one field-boost path: BM25F-style
index-time boosting would merge the fields into one weighted bag
(single df, single norm), which re-ranks when a term's df differs per
field; this module reproduces the reference's blended-df dismax
semantics exactly, index-free, as one declarative plan.

Scale shape: two narrow token passes (title/body can't avoid separate
norms), per-field stats via groupBy, blended stats broadcast, one
score+topk aggregation — every join on (doc_id) or broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..index.build import B, K1

#: the reference's title field boost (`id^10`)
TITLE_BOOST = 10.0


def _field_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, field, term) with the simple analyzer; title = first
    line, body = rest (empty body allowed)."""
    split_at = F.instr(F.col("text"), "\n")
    title = F.when(split_at > 0, F.substring_index(F.col("text"), "\n", 1)).otherwise(
        F.col("text")
    )
    body = F.when(
        split_at > 0, F.expr("substring(text, instr(text, '\\n') + 1)")
    ).otherwise(F.lit(""))
    toks = lambda c: F.filter(F.split(F.lower(c), r"\W+"), lambda x: x != F.lit(""))  # noqa: E731
    t = docs.select(
        "doc_id", F.lit("title").alias("field"), F.explode(toks(title)).alias("term")
    )
    b = docs.select(
        "doc_id", F.lit("body").alias("field"), F.explode(toks(body)).alias("term")
    )
    return t.unionByName(b)


def cross_fields_topk(
    spark: SparkSession,
    docs: DataFrame,
    terms: list[str],
    k: int = 10,
) -> DataFrame:
    """Top-k (doc_id, score) under cross_fields/AND semantics."""
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    # dedupe, order-preserving: the AND gate below compares the count of
    # DISTINCT matched terms per doc against len(terms) — a duplicated
    # query term would make it unsatisfiable (ADVICE r2)
    terms = list(dict.fromkeys(terms))
    tok = _field_tokens(docs)
    n_docs = float(docs.count())

    # per-field doc length + per-field avgdl over docs having the field
    dl = tok.groupBy("doc_id", "field").agg(
        F.count(F.lit(1)).cast("double").alias("dl")
    )
    avgdl = dl.groupBy("field").agg(F.avg("dl").alias("avgdl"))

    qt = tok.where(F.col("term").isin(terms))
    tf = qt.groupBy("doc_id", "field", "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )

    # blended df: max over fields of the per-field df (BlendedTermQuery)
    df_field = qt.groupBy("term", "field").agg(
        F.count_distinct("doc_id").cast("double").alias("df_f")
    )
    blended = df_field.groupBy("term").agg(F.max("df_f").alias("df"))
    idf = blended.withColumn(
        "idf", F.expr(f"ln(1 + ({n_docs!r} - df + 0.5) / (df + 0.5))")
    ).select("term", "idf")

    boost = F.when(F.col("field") == "title", F.lit(TITLE_BOOST)).otherwise(F.lit(1.0))
    contrib = (
        tf.join(dl, ["doc_id", "field"])
        .join(F.broadcast(avgdl), "field")
        .join(F.broadcast(idf), "term")
        .withColumn(
            "fscore",
            boost
            * F.col("idf")
            * F.col("tf")
            / (F.col("tf") + K1 * (1.0 - B + B * F.col("dl") / F.col("avgdl"))),
        )
    )
    # tie_breaker = 0.0 → the term's score is its best field's score
    per_term = contrib.groupBy("doc_id", "term").agg(F.max("fscore").alias("tscore"))
    scored = per_term.groupBy("doc_id").agg(
        F.sum("tscore").alias("score"), F.count(F.lit(1)).alias("nt")
    )
    return (
        scored.where(F.col("nt") == len(terms))  # AND across fields
        .select("doc_id", F.round("score", 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
