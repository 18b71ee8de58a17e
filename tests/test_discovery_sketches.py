"""MinHash/Lazo containment (J8/A11/R5)."""

import pytest

from datamart_spark.operators.discovery import (
    column_minhash_sketch,
    containment_score,
    lazo_containment_estimate,
)


def _estimate(l, r, n_hashes):
    return lazo_containment_estimate(
        *column_minhash_sketch(l, "x", n_hashes),
        *column_minhash_sketch(r, "x", n_hashes),
    )


def test_lazo_estimate_identical_sets(spark):
    df = spark.createDataFrame([(f"v{i}",) for i in range(200)], "x string")
    est = _estimate(df, df, n_hashes=16)
    assert est == 1.0  # all slots match, cardinalities equal


def test_lazo_estimate_disjoint_sets(spark):
    a = spark.createDataFrame([(f"a{i}",) for i in range(100)], "x string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(100)], "x string")
    assert _estimate(a, b, n_hashes=16) == 0.0


def test_lazo_estimate_tracks_exact_containment(spark):
    """Seeded overlap: L ⊂ 60% of R — the sketch estimate must land
    near the exact containment (K=64 → stderr ≈ 1/√64 ≈ 0.125)."""
    l = spark.createDataFrame([(f"v{i}",) for i in range(0, 300)], "x string")
    r = spark.createDataFrame([(f"v{i}",) for i in range(120, 500)], "x string")
    exact = containment_score(l, "x", r, "x")  # |{120..299}|/300 = 0.6
    assert exact == pytest.approx(0.6)
    est = _estimate(l, r, n_hashes=64)
    assert abs(est - exact) < 0.25
    # deterministic: same data → same estimate
    assert est == _estimate(l, r, n_hashes=64)


def test_lazo_estimate_pure_math():
    # 8/16 slots match, |L|=100 |R|=300: JS=.5 → ∩=(1/3)·400=133.3 → JC=1 (clamped)
    sl = list(range(16))
    sr = list(range(8)) + [99] * 8
    assert lazo_containment_estimate(sl, 100, sr, 300) == 1.0
    # no matches
    assert lazo_containment_estimate(sl, 100, [99] * 16, 300) == 0.0
    # empty left column
    assert lazo_containment_estimate([], 0, sr, 300) == 0.0
