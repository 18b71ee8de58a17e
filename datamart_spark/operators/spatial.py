"""Spatial discovery + augmentation operators (P5, J3, J7, R3).

Reference semantics:
- P5 geospatial predicate: candidate filtering by envelope intersection
  (ES ``geo_shape`` + ``relation: intersects`` over the dataset's
  spatial coverage boxes — apiserver/apiserver/search/join.py:229-300);
- R3 spatial overlap score: the painless script's exact arithmetic —
  Σ over (query box × candidate box) pairs of
  ``intersection_area / query_coverage`` where query_coverage is the
  summed area of the query envelopes (join.py:252-292, score_mode sum);
- J7 spatial intersection discovery: candidate boxes that intersect the
  query envelopes, ranked by R3 (the ``datamart_spatial_coverage``
  index query, join.py:229-331);
- J3 spatial nearest join: left points joined to their nearest right
  point within ``max_dist = 2 × median_smallest_distance(right)`` —
  plain Euclidean on the raw coordinates, exactly like the reference's
  sklearn KDTree (lib_augmentation/augmentation.py:420-443; the median
  grid-size estimate is lib_profiler/spatial.py:312-331: median NN
  distance over a seed-89 sample of ≤100 points).

Spark-first shapes (the reference is driver-side sklearn/ES; none of
that survives 10^12 rows):
- the NN join is a GRID-CELL equi-join: right points land in cells of
  side ``max_dist``; every left point probes its cell + the 8
  neighbors; candidates within one cell-ring provably contain every
  point within ``max_dist``, so taking the per-left minimum distance
  (≤ max_dist) is EXACT nearest-within-radius — no KDTree, no
  driver-side points, shuffle bounded by 9×|left| + |right|;
- ``median_smallest_distance`` broadcasts the ≤100-point sample and
  computes each sample point's NN in ONE distributed pass over the
  right side (groupBy sample id, min distance) — the full point set
  never leaves the executors;
- box scoring is tiny-metadata work (boxes per dataset, like the
  reference's ES index): a broadcast join of query envelopes against a
  candidate-boxes DataFrame.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F


# --- P5: envelope predicate ---------------------------------------------------


def bbox_filter(
    df: DataFrame, lat_col: str, lon_col: str,
    min_lat: float, max_lat: float, min_lon: float, max_lon: float,
) -> DataFrame:
    """Non-scoring geospatial filter context (pushdown-able predicate)."""
    return df.where(
        (F.col(lat_col) >= min_lat) & (F.col(lat_col) <= max_lat)
        & (F.col(lon_col) >= min_lon) & (F.col(lon_col) <= max_lon)
    )


# --- R3 / J7: envelope intersection score -------------------------------------


def spatial_join_candidates(
    boxes: DataFrame,
    query_boxes: list[tuple[float, float, float, float]],
    k: int = 50,
) -> DataFrame:
    """J7 discovery over a candidate-boxes table
    ``(dataset, min_lat, max_lat, min_lon, max_lon)``: broadcast the
    query envelopes, keep intersecting boxes (P5), score each by the R3
    area ratio, sum per dataset, top-k.  The boxes table is
    metadata-scale (one row per dataset coverage box, the analog of the
    reference's datamart_spatial_coverage ES index)."""
    spark = boxes.sparkSession
    coverage = sum(
        (mx_lat - mn_lat) * (mx_lon - mn_lon)
        for mn_lat, mx_lat, mn_lon, mx_lon in query_boxes
    )
    q = F.broadcast(spark.createDataFrame(
        [(float(a), float(b), float(c), float(d)) for a, b, c, d in query_boxes],
        "q_min_lat double, q_max_lat double, q_min_lon double, q_max_lon double",
    ))
    i_lat = F.least("q_max_lat", "max_lat") - F.greatest("q_min_lat", "min_lat")
    i_lon = F.least("q_max_lon", "max_lon") - F.greatest("q_min_lon", "min_lon")
    return (
        boxes.crossJoin(q)
        .withColumn("i_lat", i_lat)
        .withColumn("i_lon", i_lon)
        .where((F.col("i_lat") > 0) & (F.col("i_lon") > 0))  # P5 intersects
        .withColumn("pair_score", F.col("i_lat") * F.col("i_lon") / F.lit(coverage))
        .groupBy("dataset")
        .agg(F.sum("pair_score").alias("score"))
        .orderBy(F.desc("score"), F.asc("dataset"))
        .limit(k)
    )


# --- J3: nearest spatial join --------------------------------------------------


def median_smallest_distance(points: DataFrame, x_col: str, y_col: str) -> float:
    """Median over a seed-89 sample of ≤100 points of the distance to
    each sample point's nearest OTHER point — the reference's grid-size
    estimate (lib_profiler/spatial.py:312-331), distributed: the sample
    is broadcast; the full point set is scanned once."""
    pts = points.select(
        F.col(x_col).cast("double").alias("x"), F.col(y_col).cast("double").alias("y")
    ).dropna().dropDuplicates()
    n = pts.count()
    if n < 2:
        return 0.0
    sample_n = min(n, 100)
    # deterministic sample: the reference draws uniformly with a seeded
    # RandomState over the de-duplicated points; here: seeded exact
    # sample via a stable hash order (same spirit — a fixed pseudo-random
    # subset), collected to the driver (≤100 rows)
    sample = (
        pts.orderBy(F.md5(F.concat_ws(",", F.col("x"), F.col("y"))))
        .limit(sample_n)
        .collect()
    )
    spark = points.sparkSession
    sdf = F.broadcast(spark.createDataFrame(
        [(i, r["x"], r["y"]) for i, r in enumerate(sample)],
        "sid int, sx double, sy double",
    ))
    d2 = (F.col("x") - F.col("sx")) ** 2 + (F.col("y") - F.col("sy")) ** 2
    mins = (
        pts.crossJoin(sdf)
        .where((F.col("x") != F.col("sx")) | (F.col("y") != F.col("sy")))
        .groupBy("sid")
        .agg(F.min(d2).alias("d2"))
        .collect()
    )
    return float(np.median(np.sqrt([r["d2"] for r in mins])))


def spatial_nn_join(
    left: DataFrame,
    right: DataFrame,
    left_cols: tuple[str, str],
    right_cols: tuple[str, str],
    max_dist: float | None = None,
) -> DataFrame:
    """J3: attach to every left row its nearest right row within
    ``max_dist`` (default: 2 × median_smallest_distance(right), the
    reference's rule).  Exact nearest-within-radius via the grid-cell
    equi-join described in the module docstring.  Output: all left
    columns + the matched right columns + ``nn_dist``; unmatched left
    rows are dropped (the reference's inner nearest join).  Ties broken
    deterministically by (distance, right x, right y)."""
    lx, ly = left_cols
    rx, ry = right_cols
    if max_dist is None:
        max_dist = 2.0 * median_smallest_distance(right, rx, ry)
    if max_dist <= 0:
        raise ValueError("max_dist must be positive (degenerate right side?)")
    d = float(max_dist)

    r = right.select(
        F.col(rx).cast("double").alias("__rx"),
        F.col(ry).cast("double").alias("__ry"),
        *[c for c in right.columns if c not in (rx, ry)],
    ).withColumn("__cx", F.floor(F.col("__rx") / d).cast("long")) \
     .withColumn("__cy", F.floor(F.col("__ry") / d).cast("long"))

    # explode each left point into its 3x3 cell neighborhood — every
    # right point within max_dist lives in one of these cells
    offsets = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    ])
    l = (
        left.withColumn("__lid", F.monotonically_increasing_id())
        .withColumn("__lx", F.col(lx).cast("double"))
        .withColumn("__ly", F.col(ly).cast("double"))
        .withColumn("__o", F.explode(offsets))
        .withColumn("__cx", (F.floor(F.col("__lx") / d) + F.col("__o.dx")).cast("long"))
        .withColumn("__cy", (F.floor(F.col("__ly") / d) + F.col("__o.dy")).cast("long"))
        .drop("__o")
    )
    dist = F.sqrt(
        (F.col("__lx") - F.col("__rx")) ** 2 + (F.col("__ly") - F.col("__ry")) ** 2
    )
    joined = (
        l.join(r, ["__cx", "__cy"])
        .withColumn("__dist", dist)
        .where(F.col("__dist") <= d)
    )
    w = Window.partitionBy("__lid").orderBy("__dist", "__rx", "__ry")
    out = (
        joined.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .withColumnRenamed("__dist", "nn_dist")
        .drop("__rk", "__cx", "__cy", "__lid", "__lx", "__ly", "__rx", "__ry")
    )
    return out
