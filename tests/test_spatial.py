"""Spatial operators (P5/J3/J7/R3): the grid-cell NN join must be
EXACT vs brute force, the grid-size estimate sane, the overlap score
the reference's painless arithmetic."""

import numpy as np
import pytest

from datamart_spark.operators.spatial import (
    bbox_filter,
    median_smallest_distance,
    spatial_join_candidates,
    spatial_nn_join,
)


def spatial_overlap_score(query_boxes, cand_boxes) -> float:
    """Reference arithmetic for ``spatial_join_candidates`` scores.
    R3: Σ over box pairs of intersection_area / query_coverage.
    Boxes are (min_lat, max_lat, min_lon, max_lon).  Mirrors the
    painless script (join.py:279-292): clamp the intersection, score
    only positive-area overlaps, coverage = Σ query box areas."""
    coverage = sum(
        (mx_lat - mn_lat) * (mx_lon - mn_lon)
        for mn_lat, mx_lat, mn_lon, mx_lon in query_boxes
    )
    if coverage <= 0:
        return 0.0
    s = 0.0
    for q_mn_lat, q_mx_lat, q_mn_lon, q_mx_lon in query_boxes:
        for c_mn_lat, c_mx_lat, c_mn_lon, c_mx_lon in cand_boxes:
            i_lat = min(q_mx_lat, c_mx_lat) - max(q_mn_lat, c_mn_lat)
            i_lon = min(q_mx_lon, c_mx_lon) - max(q_mn_lon, c_mn_lon)
            if i_lat > 0 and i_lon > 0:
                s += (i_lat * i_lon) / coverage
    return s


def _pts(spark, arr, key_prefix, xname="x", yname="y"):
    rows = [(f"{key_prefix}{i}", float(x), float(y)) for i, (x, y) in enumerate(arr)]
    return spark.createDataFrame(rows, f"id string, {xname} double, {yname} double")


def test_grid_nn_join_exact_vs_brute_force(spark):
    """Random point clouds: the 3×3-cell candidate set provably contains
    every point within max_dist, so the grid join must equal the
    brute-force nearest-within-radius for every left point."""
    rng = np.random.default_rng(42)
    left = rng.uniform(-50, 50, size=(120, 2))
    right = rng.uniform(-50, 50, size=(80, 2))
    max_dist = 7.5

    l = _pts(spark, left, "l")
    r = _pts(spark, right, "r", "rx", "ry")
    got = {
        row["id"]: (row["id_r"], round(row["nn_dist"], 9))
        for row in spatial_nn_join(
            l, r.withColumnRenamed("id", "id_r"), ("x", "y"), ("rx", "ry"),
            max_dist=max_dist,
        ).collect()
    }

    want = {}
    for i, (lx, ly) in enumerate(left):
        d = np.sqrt(((right - (lx, ly)) ** 2).sum(axis=1))
        # tie-break (dist, rx, ry) like the operator
        order = sorted(
            range(len(right)), key=lambda j: (d[j], right[j][0], right[j][1])
        )
        j = order[0]
        if d[j] <= max_dist:
            want[f"l{i}"] = (f"r{j}", round(float(d[j]), 9))
    assert got == want and len(want) > 10


def test_grid_nn_join_boundary_cells(spark):
    """Points exactly one cell apart (distance == max_dist) must match:
    the neighbor-cell ring covers the closed radius."""
    l = _pts(spark, [(0.0, 0.0)], "l")
    r = _pts(spark, [(3.0, 4.0)], "r", "rx", "ry").withColumnRenamed("id", "id_r")
    out = spatial_nn_join(l, r, ("x", "y"), ("rx", "ry"), max_dist=5.0).collect()
    assert len(out) == 1 and out[0]["nn_dist"] == pytest.approx(5.0)
    # just beyond the radius: no match
    out2 = spatial_nn_join(l, r, ("x", "y"), ("rx", "ry"), max_dist=4.99).collect()
    assert out2 == []


def test_median_smallest_distance_regular_grid(spark):
    """A unit grid's nearest-neighbor distance is exactly 1 everywhere —
    the median must be 1 and the default max_dist 2 (the reference's
    2× rule, lib_augmentation/augmentation.py:437)."""
    pts = [(float(i), float(j)) for i in range(10) for j in range(10)]
    df = _pts(spark, pts, "p")
    assert median_smallest_distance(df, "x", "y") == pytest.approx(1.0)


def test_nn_join_default_max_dist_from_median(spark):
    rng = np.random.default_rng(7)
    right = rng.uniform(0, 20, size=(60, 2))
    l = _pts(spark, [(10.0, 10.0)], "l")
    r = _pts(spark, right, "r", "rx", "ry").withColumnRenamed("id", "id_r")
    out = spatial_nn_join(l, r, ("x", "y"), ("rx", "ry")).collect()  # default rule
    assert len(out) <= 1  # at most the nearest point


def test_spatial_overlap_score_reference_arithmetic():
    # full containment of a unit query box: score = area ratio = 1
    assert spatial_overlap_score(
        [(0, 10, 0, 10)], [(-5, 15, -5, 15)]
    ) == pytest.approx(1.0)
    # half overlap in one axis
    assert spatial_overlap_score(
        [(0, 10, 0, 10)], [(0, 10, 5, 15)]
    ) == pytest.approx(0.5)
    # disjoint
    assert spatial_overlap_score([(0, 10, 0, 10)], [(20, 30, 20, 30)]) == 0.0
    # two query boxes: coverage sums (score_mode sum, join.py:252-292)
    s = spatial_overlap_score(
        [(0, 10, 0, 10), (20, 30, 20, 30)], [(0, 10, 0, 10)]
    )
    assert s == pytest.approx(0.5)  # 100 / 200


def test_spatial_join_candidates_matches_scalar_score(spark):
    boxes = spark.createDataFrame(
        [
            ("a", 0.0, 10.0, 0.0, 10.0),
            ("b", 5.0, 15.0, 5.0, 15.0),
            ("c", 40.0, 50.0, 40.0, 50.0),  # disjoint — P5 drops it
        ],
        "dataset string, min_lat double, max_lat double, min_lon double, max_lon double",
    )
    q = [(0.0, 10.0, 0.0, 10.0)]
    got = {r["dataset"]: r["score"] for r in spatial_join_candidates(boxes, q).collect()}
    assert set(got) == {"a", "b"}
    assert got["a"] == pytest.approx(spatial_overlap_score(q, [(0, 10, 0, 10)]))
    assert got["b"] == pytest.approx(spatial_overlap_score(q, [(5, 15, 5, 15)]))


def test_bbox_filter(spark):
    df = _pts(spark, [(0.0, 0.0), (5.0, 5.0), (11.0, 5.0)], "p")
    out = bbox_filter(df, "x", "y", 0.0, 10.0, 0.0, 10.0).collect()
    assert {r["id"] for r in out} == {"p0", "p1"}
