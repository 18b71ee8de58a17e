"""Temporal-resolution detection — Spark port of the reference cascade.

Reference (lib_profiler/datamart_profiler/temporal.py:36-57): for each
resolution fine→coarse, bucket the values by a truncation key; the
first resolution where the average number of distinct values per
bucket is < 1.05 wins.  Keys incl. ISO-week and quarter
(temporal.py:15-33).

Spark form: ONE scan of the column — every resolution's (bucket,
value) pairs are emitted together via an exploded key array, then one
aggregation computes all 8 avg-distinct-per-bucket ratios; the winner
is picked driver-side.  (v1 ran up to 8 sequential groupBy jobs; at
100 TB that is 8 scans of the column.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# fine → coarse, matching the reference's priority order
# (augmentation.py:58-61): second minute hour day week month quarter year
_TRUNCS: list[tuple[str, str]] = [
    ("second", "second"),
    ("minute", "minute"),
    ("hour", "hour"),
    ("day", "day"),
    ("week", "week"),
    ("month", "month"),
    ("quarter", "quarter"),
    ("year", "year"),
]

RESOLUTION_PRIORITY = {name: i for i, (name, _) in enumerate(_TRUNCS)}

THRESHOLD = 1.05


def detect_resolution(df: DataFrame, ts_col: str) -> str:
    """Coarse→fine cascade (reference temporal.py:36-57 iterates the
    keys year→second): first resolution where avg distinct timestamps
    per bucket < 1.05 wins; fallback 'second'.

    One-pass plan: explode the 8 truncation keys per value (a narrow
    8× row inflation of ONE column), aggregate distinct counts for all
    resolutions in a single shuffle, and evaluate the cascade on the
    returned 8-row result."""
    col = F.col(ts_col)
    keyed = df.where(col.isNotNull()).select(
        col.alias("v"),
        F.explode(
            F.array(*[
                F.struct(F.lit(name).alias("res"),
                         F.date_trunc(unit, col).alias("b"))
                for name, unit in _TRUNCS
            ])
        ).alias("k"),
    )
    rows = (
        keyed.groupBy(F.col("k.res").alias("res"), F.col("k.b").alias("b"))
        .agg(F.count_distinct("v").alias("c"))
        .groupBy("res")
        .agg(F.avg("c").alias("r"))
        .collect()
    )
    ratio = {r["res"]: r["r"] for r in rows}
    for name, _ in reversed(_TRUNCS):
        r = ratio.get(name)
        if r is not None and r < THRESHOLD:
            return name
    return "second"


def coarser(res_a: str, res_b: str) -> str:
    """The coarser of two resolutions (search/join.py:573-582 picks the
    coarser side for join alignment)."""
    return res_a if RESOLUTION_PRIORITY[res_a] >= RESOLUTION_PRIORITY[res_b] else res_b
