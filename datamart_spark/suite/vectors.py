"""Similarity search over the ``embeddings`` table (vec_id, embedding
float[64], label): brute-force cosine top-k (exact baseline) and a
random-hyperplane LSH bucketing (the scale path — at 100 TB the
bucket-join replaces the all-pairs product; here the bucket histogram
itself is oracle-checked so both engines agree on every assignment).

Float discipline: embeddings are float32; all arithmetic is done after
an explicit cast to double, sequentially over the array in index order
(Spark ``aggregate``, DuckDB ``list_aggregate``) so both engines
produce bit-identical doubles; results round(…,4) before ordering.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from . import corpus_cache_root, corpus_fingerprint, register, table

# deterministic hyperplanes for sign-LSH, embedded as literals in BOTH
# engines so bucket assignments agree exactly
_DIM = 64
_N_PLANES = 4
_rng = np.random.Generator(np.random.PCG64(7))
_PLANES = np.round(_rng.standard_normal((_N_PLANES, _DIM)), 4)


def _plane_sql(p: np.ndarray) -> str:
    return "[" + ", ".join(f"{x:.4f}" for x in p) + "]::double[]"


def _plane_spark(p: np.ndarray) -> str:
    return "array(" + ", ".join(f"{x:.4f}d" for x in p) + ")"


_DOT_SPARK = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
    " 0d, (s, v) -> s + v)"
)
_DOT_SQL = (
    "list_aggregate(list_transform(list_zip({a}, {b}),"
    " x -> x[1]::double * x[2]::double), 'sum')"
)
_NORM_SPARK = "sqrt(aggregate({a}, 0d, (s, v) -> s + cast(v as double) * cast(v as double)))"
_NORM_SQL = "sqrt(list_aggregate(list_transform({a}, v -> v::double * v::double), 'sum'))"


@register(
    "cosine_topk",
    f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
s AS (SELECT e.vec_id,
             {_DOT_SQL.format(a='e.embedding', b='q.qe')}
             / ({_NORM_SQL.format(a='e.embedding')} * {_NORM_SQL.format(a='q.qe')}) AS cos
      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0)
SELECT vec_id, round(cos, 4) AS cosine FROM s
ORDER BY cosine DESC, vec_id ASC LIMIT 10
""",
)
def cosine_topk(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    # ||q|| computed ONCE in the broadcast 1-row side instead of per
    # data row (identical double: same sequential fold over the same
    # array — the per-row expression re-ran the 64-element fold for
    # every vector); the q side stays on the raw scan so the vec_id=0
    # pushdown fetches one row without an exchange
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"),
        F.expr(_NORM_SPARK.format(a="embedding")).alias("qnorm"),
    )
    # the table is one parquet row group, so the 129-flop-per-row
    # higher-order fold ran as a single scan task; spread the data side
    # first (guide §2.5 — measured 0.45 → 0.31 s at sf1.0)
    s = (
        emb.where(F.col("vec_id") != 0)
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
        .crossJoin(F.broadcast(q))
        .withColumn(
            "cos",
            F.expr(
                _DOT_SPARK.format(a="embedding", b="qe")
                + " / ("
                + _NORM_SPARK.format(a="embedding")
                + " * qnorm)"
            ),
        )
    )
    return (
        s.select("vec_id", F.round("cos", 4).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


def _bucket_exprs() -> tuple[str, str]:
    spark_bits = " + ".join(
        f"(CASE WHEN {_DOT_SPARK.format(a='embedding', b=_plane_spark(p))} >= 0d"
        f" THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(_PLANES)
    )
    sql_bits = " + ".join(
        f"(CASE WHEN {_DOT_SQL.format(a='embedding', b=_plane_sql(p))} >= 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(_PLANES)
    )
    return spark_bits, sql_bits


_SPARK_BUCKET, _SQL_BUCKET = _bucket_exprs()


@register(
    "lsh_bucket_histogram",
    f"""
SELECT ({_SQL_BUCKET}) AS bucket, count(*) AS n
FROM embeddings GROUP BY 1 ORDER BY bucket
""",
)
def lsh_bucket_histogram(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    return (
        emb.withColumn("bucket", F.expr(_SPARK_BUCKET))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bucket")
    )


@register(
    "ann_lsh_candidates",
    f"""
WITH b AS (SELECT vec_id, embedding, ({_SQL_BUCKET}) AS bucket FROM embeddings),
q AS (SELECT bucket AS qb, embedding AS qe FROM b WHERE vec_id = 7),
s AS (SELECT b.vec_id,
             {_DOT_SQL.format(a='b.embedding', b='q.qe')}
             / ({_NORM_SQL.format(a='b.embedding')} * {_NORM_SQL.format(a='q.qe')}) AS cos
      FROM b JOIN q ON b.bucket = q.qb WHERE b.vec_id <> 7)
SELECT vec_id, round(cos, 4) AS cosine FROM s ORDER BY cosine DESC, vec_id ASC LIMIT 5
""",
)
def ann_lsh_candidates(spark, sf_dir):
    """ANN: restrict cosine search to the query's LSH bucket — the
    bucketed-join plan that replaces all-pairs at scale."""
    emb = table(spark, sf_dir, "embeddings").withColumn("bucket", F.expr(_SPARK_BUCKET))
    q = emb.where(F.col("vec_id") == 7).select(
        F.col("bucket").alias("qb"), F.col("embedding").alias("qe")
    )
    s = (
        emb.where(F.col("vec_id") != 7)
        .join(F.broadcast(q), F.col("bucket") == F.col("qb"))
        .withColumn(
            "cos",
            F.expr(
                _DOT_SPARK.format(a="embedding", b="qe")
                + " / ("
                + _NORM_SPARK.format(a="embedding")
                + " * "
                + _NORM_SPARK.format(a="qe")
                + ")"
            ),
        )
    )
    return (
        s.select("vec_id", F.round("cos", 4).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(5)
    )


def _bucket_partitioned(spark, sf_dir):
    """Embeddings materialized ONCE per sf dir PARTITIONED BY the
    single-band LSH bucket — the layout a 10^9-vector store needs: a
    probe's ``bucket = <q>`` predicate becomes partition PRUNING (only
    the query bucket's files are listed/read), where the unpartitioned
    table scans every row and filters.  Plan-asserted in
    tests/test_plans.py."""
    import json
    import os

    root = corpus_cache_root(sf_dir, "embbuckets")
    meta_path = os.path.join(root, "meta.json")
    fp = corpus_fingerprint(sf_dir, "embeddings")
    ok = False
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            ok = json.load(f).get("fingerprint") == fp
    if not ok:
        import shutil

        shutil.rmtree(root, ignore_errors=True)
        emb = table(spark, sf_dir, "embeddings").withColumn(
            "bucket", F.expr(_SPARK_BUCKET)
        )
        emb.write.mode("overwrite").partitionBy("bucket").parquet(
            os.path.join(root, "emb")
        )
        with open(meta_path, "w") as f:
            json.dump({"fingerprint": fp}, f)
    return spark.read.parquet(os.path.join(root, "emb"))


@register(
    "ann_bucket_pruned",
    f"""
WITH b AS (SELECT vec_id, embedding, ({_SQL_BUCKET}) AS bucket FROM embeddings),
q AS (SELECT bucket AS qb, embedding AS qe FROM b WHERE vec_id = 7),
s AS (SELECT b.vec_id,
             {_DOT_SQL.format(a='b.embedding', b='q.qe')}
             / ({_NORM_SQL.format(a='b.embedding')} * {_NORM_SQL.format(a='q.qe')}) AS cos
      FROM b JOIN q ON b.bucket = q.qb WHERE b.vec_id <> 7)
SELECT vec_id, round(cos, 4) AS cosine FROM s ORDER BY cosine DESC, vec_id ASC LIMIT 5
""",
)
def ann_bucket_pruned(spark, sf_dir):
    """Same ANN result as ann_lsh_candidates, served from the
    bucket-PARTITIONED layout: the query's bucket is resolved first
    (one pushdown-filtered row fetch), then the probe filters on the
    partition column with a literal — Catalyst turns that into
    partition pruning, so the probe reads ONLY the query bucket's
    files instead of linearly scanning the table (the difference
    between an index lookup and a full scan at 10^9 vectors)."""
    emb = _bucket_partitioned(spark, sf_dir)
    qrow = (
        table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") == 7)
        .withColumn("bucket", F.expr(_SPARK_BUCKET))
        .select("bucket", F.col("embedding").alias("qe"))
        .collect()[0]
    )
    q = spark.createDataFrame(
        [(qrow["qe"],)], "qe array<float>"
    )
    s = (
        emb.where(F.col("bucket") == int(qrow["bucket"]))  # partition-pruned
        .where(F.col("vec_id") != 7)
        .crossJoin(F.broadcast(q))
        .withColumn("cos", F.expr(_cos_spark("embedding", "qe")))
    )
    return (
        s.select("vec_id", F.round("cos", 4).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(5)
    )


@register(
    "label_centroid_norm",
    f"""
SELECT label, count(*) AS n,
       round(avg({_NORM_SQL.format(a='embedding')}), 4) AS avg_norm
FROM embeddings GROUP BY label ORDER BY label
""",
)
def label_centroid_norm(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    return (
        emb.withColumn("nrm", F.expr(_NORM_SPARK.format(a="embedding")))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("nrm"), 4).alias("avg_norm"))
        .orderBy("label")
    )


# --- multi-band OR-amplified LSH (recall-at-scale variant) --------------------
#
# One 4-plane band has recall ~(1-(1-s^4)) for similarity s; OR-ing B
# independent bands amplifies recall to 1-(1-s^4)^B with candidate cost
# B×bucket — the standard LSH tradeoff the single-band demo above
# doesn't exercise.  3 bands × 4 planes, deterministic per-band planes.

_N_BANDS = 3
_BAND_PLANES = [
    np.round(np.random.Generator(np.random.PCG64(100 + b)).standard_normal((_N_PLANES, _DIM)), 4)
    for b in range(_N_BANDS)
]


def _band_bucket_exprs(band: int) -> tuple[str, str]:
    planes = _BAND_PLANES[band]
    spark_bits = " + ".join(
        f"(CASE WHEN {_DOT_SPARK.format(a='embedding', b=_plane_spark(p))} >= 0d"
        f" THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    sql_bits = " + ".join(
        f"(CASE WHEN {_DOT_SQL.format(a='embedding', b=_plane_sql(p))} >= 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return spark_bits, sql_bits


_BAND_EXPRS = [_band_bucket_exprs(b) for b in range(_N_BANDS)]


@register(
    "ann_multiband_candidates",
    f"""
WITH b AS (SELECT vec_id, embedding,
                  {', '.join(f'({sql}) AS bk{i}' for i, (_, sql) in enumerate(_BAND_EXPRS))}
           FROM embeddings),
q AS (SELECT embedding AS qe,
             {', '.join(f'bk{i} AS qbk{i}' for i in range(_N_BANDS))}
      FROM b WHERE vec_id = 7),
cand AS (SELECT DISTINCT b.vec_id, b.embedding
         FROM b CROSS JOIN q
         WHERE b.vec_id <> 7
           AND ({' OR '.join(f'b.bk{i} = q.qbk{i}' for i in range(_N_BANDS))})),
s AS (SELECT c.vec_id,
             {_DOT_SQL.format(a='c.embedding', b='q.qe')}
             / ({_NORM_SQL.format(a='c.embedding')} * {_NORM_SQL.format(a='q.qe')}) AS cos
      FROM cand c CROSS JOIN q)
SELECT vec_id, round(cos, 4) AS cosine FROM s ORDER BY cosine DESC, vec_id ASC LIMIT 5
""",
)
def ann_multiband_candidates(spark, sf_dir):
    """OR-amplified multi-band LSH: candidates = union over 3 bands of
    the query's bucket, exact cosine rescore (scale plan: per-band
    bucket equi-joins, union, dedup — never all-pairs)."""
    emb = table(spark, sf_dir, "embeddings")
    for i, (sp, _) in enumerate(_BAND_EXPRS):
        emb = emb.withColumn(f"bk{i}", F.expr(sp))
    q = emb.where(F.col("vec_id") == 7).select(
        F.col("embedding").alias("qe"),
        *[F.col(f"bk{i}").alias(f"qbk{i}") for i in range(_N_BANDS)],
    )
    cond = None
    for i in range(_N_BANDS):
        c = F.col(f"bk{i}") == F.col(f"qbk{i}")
        cond = c if cond is None else (cond | c)
    s = (
        emb.where(F.col("vec_id") != 7)
        .join(F.broadcast(q), cond)
        .dropDuplicates(["vec_id"])
        .withColumn(
            "cos",
            F.expr(
                _DOT_SPARK.format(a="embedding", b="qe")
                + " / ("
                + _NORM_SPARK.format(a="embedding")
                + " * "
                + _NORM_SPARK.format(a="qe")
                + ")"
            ),
        )
    )
    return (
        s.select("vec_id", F.round("cos", 4).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(5)
    )


# --- IVF probe (inverted-file ANN, the other scale path) ----------------------

_IVF_K = 8       # coarse centroids
_IVF_PROBE = 2   # lists probed per query


def _cos_sql(a: str, b: str) -> str:
    return (
        f"{_DOT_SQL.format(a=a, b=b)} / "
        f"({_NORM_SQL.format(a=a)} * {_NORM_SQL.format(a=b)})"
    )


def _cos_spark(a: str, b: str) -> str:
    return (
        f"{_DOT_SPARK.format(a=a, b=b)} / "
        f"({_NORM_SPARK.format(a=a)} * {_NORM_SPARK.format(a=b)})"
    )


@register(
    "ann_ivf_probe",
    f"""
WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < {_IVF_K}),
a AS (SELECT e.vec_id, e.embedding, c.cid, {_cos_sql('e.embedding', 'c.ce')} AS ccos
      FROM embeddings e CROSS JOIN c),
assign AS (SELECT vec_id, embedding, cid,
                  row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS rk
           FROM a),
lists AS (SELECT vec_id, embedding, cid FROM assign WHERE rk = 1),
qprobe AS (SELECT cid FROM assign WHERE vec_id = 42 AND rk <= {_IVF_PROBE}),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 42),
s AS (SELECT l.vec_id, {_cos_sql('l.embedding', 'q.qe')} AS cos
      FROM lists l JOIN qprobe USING (cid) CROSS JOIN q
      WHERE l.vec_id <> 42)
SELECT vec_id, round(cos, 4) AS cosine FROM s ORDER BY cosine DESC, vec_id ASC LIMIT 5
""",
)
def ann_ivf_probe(spark, sf_dir):
    """IVF-style ANN: vectors partitioned into inverted lists by nearest
    coarse centroid; a query probes only its nearest-{_IVF_PROBE} lists
    and rescans exactly those.  Centroids here are a deterministic seed
    set (first {_IVF_K} vectors) so the DuckDB oracle reproduces the
    quantizer bit-for-bit — at scale the centroids come from k-means
    (Lloyd's iterations) and the lists become the partition keys of the
    embedding table; the probe plan is unchanged."""
    from pyspark.sql import Window

    emb = table(spark, sf_dir, "embeddings")
    c = emb.where(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    a = emb.crossJoin(F.broadcast(c)).withColumn(
        "ccos", F.expr(_cos_spark("embedding", "ce"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("cid"))
    assign = a.withColumn("rk", F.row_number().over(w))
    lists = assign.where(F.col("rk") == 1).select("vec_id", "embedding", "cid")
    qprobe = assign.where(
        (F.col("vec_id") == 42) & (F.col("rk") <= _IVF_PROBE)
    ).select("cid")
    q = emb.where(F.col("vec_id") == 42).select(F.col("embedding").alias("qe"))
    s = (
        lists.join(F.broadcast(qprobe), "cid")
        .where(F.col("vec_id") != 42)
        .crossJoin(F.broadcast(q))
        .withColumn("cos", F.expr(_cos_spark("embedding", "qe")))
    )
    return (
        s.select("vec_id", F.round("cos", 4).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(5)
    )


# --- embedding-cosine near-dup (the vector analog of dedup_pipeline) ----------

_ND_THRESH = 0.4


@register(
    "embedding_neardup_pairs",
    f"""
WITH b AS (SELECT vec_id, embedding,
                  {', '.join(f'({sql}) AS bk{i}' for i, (_, sql) in enumerate(_BAND_EXPRS))}
           FROM embeddings),
cand AS (SELECT DISTINCT a.vec_id AS va, c.vec_id AS vb,
                a.embedding AS ea, c.embedding AS eb
         FROM b a JOIN b c
           ON a.vec_id < c.vec_id
          AND ({' OR '.join(f'a.bk{i} = c.bk{i}' for i in range(_N_BANDS))}),
),
ver AS (SELECT va, vb, {_cos_sql('ea', 'eb')} AS cos FROM cand),
keepable AS (SELECT vb AS dropped_id, va AS keep_id, round(cos, 4) AS cosine,
                    row_number() OVER (PARTITION BY vb ORDER BY va) AS rk
             FROM ver WHERE cos >= {_ND_THRESH!r})
SELECT dropped_id, keep_id, cosine FROM keepable WHERE rk = 1
ORDER BY dropped_id LIMIT 50
""",
)
def embedding_neardup_pairs(spark, sf_dir):
    """Embedding-cosine near-duplicate detection, scale-shaped: sign-LSH
    banding (3 bands x 4 hyperplanes — the same OR-amplified buckets as
    ann_multiband_candidates) generates candidate pairs as per-band
    bucket self-joins (never all-pairs), exact cosine verifies them, a
    deterministic keep-list drops the higher vec_id.  The oracle
    computes the identical buckets, so the gate covers the full
    candidate-generation + verification plan."""
    emb = table(spark, sf_dir, "embeddings")
    for i, (sp, _) in enumerate(_BAND_EXPRS):
        emb = emb.withColumn(f"bk{i}", F.expr(sp))
    # Candidate generation as a UNION of per-band EQUI-joins: each band's
    # bucket column is the join key, so Catalyst plans a hash join
    # (shuffled or broadcast) — never a nested-loop all-pairs product.
    # An OR of the three equalities in one join condition would leave no
    # equi-conjunct and compile to BroadcastNestedLoopJoin (O(n^2)
    # compares at any scale); tests/test_plans.py asserts the banded
    # shape holds.
    cands = None
    for i in range(_N_BANDS):
        bi = emb.select("vec_id", "embedding", F.col(f"bk{i}").alias("bk"))
        a, c = bi.alias("a"), bi.alias("c")
        pairs = a.join(
            c,
            (F.col("a.bk") == F.col("c.bk"))
            & (F.col("a.vec_id") < F.col("c.vec_id")),
        ).select(
            F.col("a.vec_id").alias("va"), F.col("c.vec_id").alias("vb"),
            F.col("a.embedding").alias("ea"), F.col("c.embedding").alias("eb"),
        )
        cands = pairs if cands is None else cands.unionAll(pairs)
    # (ea, eb) are functionally determined by (va, vb), so id-keyed dedup
    # carries the arrays through without a re-join against the base table.
    cand = cands.dropDuplicates(["va", "vb"])
    ver = cand.withColumn("cos", F.expr(_cos_spark("ea", "eb"))).where(
        F.col("cos") >= _ND_THRESH
    )
    from pyspark.sql import Window

    w = Window.partitionBy("vb").orderBy("va")
    return (
        ver.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            F.col("vb").alias("dropped_id"), F.col("va").alias("keep_id"),
            F.round("cos", 4).alias("cosine"),
        )
        .orderBy("dropped_id")
        .limit(50)
    )
