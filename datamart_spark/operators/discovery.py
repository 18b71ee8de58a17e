"""Join discovery by column-value containment (J8/A11/R5), as
``suite/textfns.lazo_containment_est`` runs it: ``containment_score``
is the exact |A ∩ B| / |A| over distinct values, and
``column_minhash_sketch`` + ``lazo_containment_estimate`` the
Lazo-style sketch estimate (MinHash section below).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def containment_score(
    left: DataFrame, left_col: str, right: DataFrame, right_col: str
) -> float:
    """J8 exact containment |L ∩ R| / |L| over distinct values.
    Distributed: two distinct-aggregations + one broadcast-able
    semi-join — no driver-side value sets."""
    l = left.select(F.col(left_col).cast("string").alias("v")).where(
        F.col("v").isNotNull()
    ).distinct()
    r = right.select(F.col(right_col).cast("string").alias("v")).where(
        F.col("v").isNotNull()
    ).distinct()
    n_l = l.count()
    if n_l == 0:
        return 0.0
    inter = l.join(r, "v", "left_semi").count()
    return inter / n_l


# --- MinHash-backed containment (J8/A11/R5 at scale) -------------------------
#
# The reference delegates joinable-column search to an external Lazo
# server holding per-column sketches (n_permutations, hash_values,
# cardinality) — lib_profiler core.py:502-557 builds them, apiserver
# search/join.py:334-425 queries them.  This is the Spark-native
# estimator: one aggregation computes the K-permutation MinHash slots +
# the exact distinct cardinality per column; containment is then pure
# sketch arithmetic (Lazo's JS→JC conversion), never a value-set join.
# At 100 TB the sketch table is O(#columns × K) rows — the exact
# ``containment_score`` above stays as the verification oracle.

N_PERMUTATIONS = 16


def _perm_hash(col, j: int):
    """Permutation j's hash: int64 from the md5 hex prefix of "j:value"
    — deterministic, identical in Spark and DuckDB (same scheme as the
    dedup suite, suite/textfns.py)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{j}:"), col)), 1, 15), 16, 10
    ).cast("long")


def column_minhash_sketch(
    df: DataFrame, col: str, n_hashes: int = N_PERMUTATIONS
) -> tuple[list[int], int]:
    """A11: Lazo-style column sketch ``(hash_values, cardinality)`` in
    ONE distributed aggregation over the column's distinct values."""
    v = (
        df.select(F.col(col).cast("string").alias("v"))
        .where(F.col("v").isNotNull())
        .distinct()
    )
    aggs = [F.min(_perm_hash(F.col("v"), j)).alias(f"mh{j}") for j in range(n_hashes)]
    aggs.append(F.count(F.lit(1)).alias("card"))
    row = v.agg(*aggs).collect()[0]
    return [row[f"mh{j}"] for j in range(n_hashes)], int(row["card"])


def lazo_containment_estimate(
    sketch_l: list[int], card_l: int, sketch_r: list[int], card_r: int
) -> float:
    """Lazo's sketch-only containment JC(L,R) = |L∩R|/|L|:

    JS_hat  = matching slots / K            (classic MinHash estimate)
    |L∩R|   = JS/(1+JS) · (|L|+|R|)         (from JS = ∩/∪, ∪ = |L|+|R|−∩)
    JC_hat  = clamp(|L∩R| / |L|, 0, 1)

    (reference behavior: search/join.py:334-425 consumes exactly this
    score from the Lazo server)."""
    if card_l == 0 or not sketch_l:
        return 0.0
    k = len(sketch_l)
    matches = sum(1 for a, b in zip(sketch_l, sketch_r) if a is not None and a == b)
    js = matches / k
    if js == 0.0:
        return 0.0
    inter = js / (1.0 + js) * (card_l + card_r)
    return min(1.0, inter / card_l)
