"""MinHash/Lazo containment (J8/A11/R5), W2 interleave, R4 multiplier,
A8 K-Means ranges, and geo type detection — round-2 parity operators."""

import numpy as np
import pytest

from datamart_spark.operators.discovery import (
    column_minhash_sketch,
    containment_score,
    interleave_results,
    keyword_multiplier_expr,
    lazo_containment_estimate,
    minhash_containment,
)
from datamart_spark.profiler.ranges import kmeans_ranges


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


# --- A8 K-Means ranges --------------------------------------------------------


def test_kmeans_ranges_three_clear_clusters():
    rng = np.random.default_rng(0)
    vals = np.concatenate([
        rng.normal(0, 1, 400), rng.normal(100, 1, 300), rng.normal(1000, 5, 300)
    ])
    ranges = kmeans_ranges(vals)
    assert len(ranges) == 3
    (a0, a1), (b0, b1), (c0, c1) = ranges
    assert -3 < a0 < a1 < 3
    assert 97 < b0 < b1 < 103
    assert 985 < c0 < c1 < 1015
    # [5%,95%] trim: endpoints are inside the clusters, not the extremes
    assert a0 > vals.min() and c1 < vals.max()


def test_kmeans_ranges_outlier_cluster_dropped():
    """Clusters holding <10% of values are eliminated (numerical.py:64-66)."""
    vals = np.concatenate([np.linspace(0, 1, 95), np.array([10_000.0] * 5)])
    ranges = kmeans_ranges(vals)
    assert all(hi < 2 for _, hi in ranges)  # the 5% outlier cluster is gone


def test_kmeans_ranges_small_and_degenerate():
    assert kmeans_ranges([]) == []
    assert kmeans_ranges([5.0]) == [(5.0, 5.0)]
    assert kmeans_ranges([1.0, 1.0, 1.0]) == [(1.0, 1.0)]
    r = kmeans_ranges([1.0, 2.0])
    assert len(r) >= 1


def test_profile_kmeans_ranges_integration(spark):
    from datamart_spark.profiler.types_infer import profile_dataframe

    rows = [(str(float(i % 10)),) for i in range(500)] + [("900.0",)] * 500
    df = spark.createDataFrame(rows, "v string")
    p = profile_dataframe(df)[0]
    assert p.ranges is not None and 1 <= len(p.ranges) <= 3
    assert any(hi >= 900.0 for _, hi in p.ranges)


# --- geo type detection -------------------------------------------------------


def test_geo_point_and_polygon_detection(spark):
    from datamart_spark.profiler.types_infer import (
        TYPE_GEO_POINT, TYPE_GEO_POLYGON, profile_dataframe,
    )

    df = spark.createDataFrame(
        [
            ("POINT (40.7128 -74.0060)", "POLYGON ((0 0), (0 1), (1 1))"),
            ("POINT(34.05, -118.24)", "POLYGON((2 2), (2 3), (3 3))"),
            ("POINT (51.5074 -0.1278)", "POLYGON ((4 4), (5 5), (6 6))"),
        ],
        "pt string, poly string",
    )
    p = {x.name: x for x in profile_dataframe(df, compute_ranges=False)}
    assert p["pt"].structural_type == TYPE_GEO_POINT
    assert p["poly"].structural_type == TYPE_GEO_POLYGON


def test_latlong_semantic_detection(spark):
    from datamart_spark.profiler.types_infer import (
        SEM_LATITUDE, SEM_LONGITUDE, TYPE_FLOAT, profile_dataframe,
    )

    rows = [(str(40.0 + i * 0.01), str(-74.0 - i * 0.01), str(40.0 + i * 0.01))
            for i in range(100)]
    df = spark.createDataFrame(rows, "lat string, longitude string, price string")
    p = {x.name: x for x in profile_dataframe(df, compute_ranges=False)}
    assert p["lat"].structural_type == TYPE_FLOAT
    assert SEM_LATITUDE in p["lat"].semantic_types
    assert SEM_LONGITUDE in p["longitude"].semantic_types
    # value range fits but the NAME doesn't say lat/long → no geo semantics
    assert SEM_LATITUDE not in p["price"].semantic_types
    assert SEM_LONGITUDE not in p["price"].semantic_types


# --- augmentation search facade (§3.1 steps 4-5) -------------------------------


def test_range_overlap_score_math():
    from datamart_spark.operators.discovery import range_overlap_score

    # full overlap of one unit range
    assert range_overlap_score([(0, 9)], [(0, 9)]) == pytest.approx(1.0)
    # half overlap
    assert range_overlap_score([(0, 9)], [(5, 14)]) == pytest.approx(0.5)
    # disjoint
    assert range_overlap_score([(0, 9)], [(20, 30)]) == 0.0


@pytest.fixture(scope="module")
def aug_universe(spark):
    inp = spark.createDataFrame(
        [(float(i), f"key{i % 40}", f"note {i}") for i in range(200)],
        "amount string, code string, note string",
    ).selectExpr("cast(amount as string) amount", "code", "note")
    joinable = spark.createDataFrame(
        [(float(i) / 2, f"key{i % 50}") for i in range(300)],
        "amount2 double, code2 string",
    ).selectExpr("cast(amount2 as string) amount2", "code2")
    unionable = spark.createDataFrame(
        [("1.0", "keyx", "hello")], "amount string, code string, note string"
    )
    return inp, {"trade prices": joinable, "more rows": unionable}


def test_augmentation_search_end_to_end(spark, aug_universe):
    from datamart_spark.operators.discovery import augmentation_search

    inp, candidates = aug_universe
    results = augmentation_search(inp, candidates, k=50)
    assert results, "no results"
    types = {r["type"] for r in results}
    assert types == {"join", "union"}
    # W2: first two results alternate join/union (pairwise interleave)
    assert [r["type"] for r in results[:2]] == ["join", "union"]
    # the unionable candidate matches all 3 column names exactly:
    # score = Σ sims / n_input × es_score = 3/3 × 1.0 (union.py:177-190)
    u = [r for r in results if r["type"] == "union"][0]
    assert u["dataset"] == "more rows" and u["score"] == pytest.approx(1.0)
    assert len(u["matched_pairs"]) == 3
    # join results carry (dataset, input_column, column, score)
    j = [r for r in results if r["type"] == "join"][0]
    assert {"dataset", "input_column", "column", "score"} <= set(j)


def test_augmentation_search_keyword_multiplier(spark, aug_universe):
    from datamart_spark.operators.discovery import augmentation_search

    inp, candidates = aug_universe
    base = augmentation_search(inp, candidates, k=50)
    boosted = augmentation_search(inp, candidates, keywords="trade", k=50)
    b0 = {(r["dataset"], r.get("column")): r["score"]
          for r in base if r["type"] == "join" and r["dataset"] == "trade prices"}
    b1 = {(r["dataset"], r.get("column")): r["score"]
          for r in boosted if r["type"] == "join" and r["dataset"] == "trade prices"}
    assert b0 and b1.keys() == b0.keys()
    for key in b0:
        assert b1[key] == pytest.approx(10.0 * b0[key])  # R4 ×10


def test_augmentation_search_excludes_d3mindex(spark):
    """P10: the synthetic d3mIndex column never participates in
    discovery (reference search/join.py:54-56, union.py:35-37)."""
    from datamart_spark.operators.discovery import augmentation_search

    inp = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "d3mIndex long, amount string"
    ).selectExpr("cast(d3mIndex as string) d3mIndex", "amount")
    cand = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "d3mIndex long, amount2 string"
    ).selectExpr("cast(d3mIndex as string) d3mIndex", "amount2")
    results = augmentation_search(inp, {"other": cand}, k=50)
    for r in results:
        assert r.get("column") != "d3mIndex"
        assert r.get("input_column") != "d3mIndex"
        if r["type"] == "union":
            assert all("d3mIndex" not in pair[:2] for pair in r["matched_pairs"])
