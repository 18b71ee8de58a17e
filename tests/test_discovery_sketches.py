"""MinHash/Lazo containment (J8/A11/R5), W2 interleave, R4 multiplier
and R2 range overlap — round-2 parity operators."""

import pytest

from datamart_spark.operators.discovery import (
    column_minhash_sketch,
    containment_score,
    interleave_results,
    keyword_multiplier_expr,
    lazo_containment_estimate,
    minhash_containment,
)


def test_lazo_estimate_identical_sets(spark):
    df = spark.createDataFrame([(f"v{i}",) for i in range(200)], "x string")
    est = minhash_containment(df, "x", df, "x", n_hashes=16)
    assert est == 1.0  # all slots match, cardinalities equal


def test_lazo_estimate_disjoint_sets(spark):
    a = spark.createDataFrame([(f"a{i}",) for i in range(100)], "x string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(100)], "x string")
    assert minhash_containment(a, "x", b, "x", n_hashes=16) == 0.0


def test_lazo_estimate_tracks_exact_containment(spark):
    """Seeded overlap: L ⊂ 60% of R — the sketch estimate must land
    near the exact containment (K=64 → stderr ≈ 1/√64 ≈ 0.125)."""
    l = spark.createDataFrame([(f"v{i}",) for i in range(0, 300)], "x string")
    r = spark.createDataFrame([(f"v{i}",) for i in range(120, 500)], "x string")
    exact = containment_score(l, "x", r, "x")  # |{120..299}|/300 = 0.6
    assert exact == pytest.approx(0.6)
    est = minhash_containment(l, "x", r, "x", n_hashes=64)
    assert abs(est - exact) < 0.25
    # deterministic: same data → same estimate
    assert est == minhash_containment(l, "x", r, "x", n_hashes=64)


def test_lazo_estimate_pure_math():
    # 8/16 slots match, |L|=100 |R|=300: JS=.5 → ∩=(1/3)·400=133.3 → JC=1 (clamped)
    sl = list(range(16))
    sr = list(range(8)) + [99] * 8
    assert lazo_containment_estimate(sl, 100, sr, 300) == 1.0
    # no matches
    assert lazo_containment_estimate(sl, 100, [99] * 16, 300) == 0.0
    # empty left column
    assert lazo_containment_estimate([], 0, sr, 300) == 0.0


def test_interleave_results_reference_order():
    """search/__init__.py:410-425: pairwise alternation, then leftovers,
    then cut to k."""
    j = ["j0", "j1", "j2", "j3"]
    u = ["u0", "u1"]
    assert interleave_results(j, u, k=50) == ["j0", "u0", "j1", "u1", "j2", "j3"]
    assert interleave_results(j, u, k=3) == ["j0", "u0", "j1"]
    assert interleave_results([], u, k=50) == u
    assert interleave_results(j, [], k=2) == ["j0", "j1"]


def test_keyword_multiplier_expr(spark):
    """R4: join-discovery score ×10 where the keyword query matched."""
    df = spark.createDataFrame(
        [("a", 0.5, True), ("b", 0.7, False)], "id string, score double, keyword_match boolean"
    )
    got = {r["id"]: r["boosted"] for r in df.select(
        "id", keyword_multiplier_expr().alias("boosted")).collect()}
    assert got["a"] == pytest.approx(5.0)
    assert got["b"] == pytest.approx(0.7)


# --- R2 coverage-range overlap -------------------------------------------------


def test_range_overlap_score_math():
    from datamart_spark.operators.discovery import range_overlap_score

    # full overlap of one unit range
    assert range_overlap_score([(0, 9)], [(0, 9)]) == pytest.approx(1.0)
    # half overlap
    assert range_overlap_score([(0, 9)], [(5, 14)]) == pytest.approx(0.5)
    # disjoint
    assert range_overlap_score([(0, 9)], [(20, 30)]) == 0.0
