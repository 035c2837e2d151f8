"""Randomized brute-force equivalence for the cell-local spatial joins.

The contract queries pin ONE deterministic geometry; these tests sweep
seeded random point/segment layouts and assert the cell-cover candidate
generation (supercover + ring-1 dilation) never loses a pair that a
brute-force scan finds -- the exact failure mode a cover-cell bug would
produce (silently missing matches near cell borders).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osmnetfusion_spark.functions import geo
from osmnetfusion_spark.operators import spatial

LAT0, LON0, SPAN = 48.10, 11.50, 0.0084


def _random_layout(seed: int, n_pts: int = 60, n_segs: int = 15):
    rng = np.random.default_rng(seed)
    pts = np.column_stack(
        [
            LAT0 + rng.random(n_pts) * SPAN,
            LON0 + rng.random(n_pts) * SPAN,
        ]
    )
    ax = LON0 + rng.random(n_segs) * SPAN
    ay = LAT0 + rng.random(n_segs) * SPAN
    bx = ax + (rng.random(n_segs) - 0.5) * 0.003
    by = ay + (rng.random(n_segs) - 0.5) * 0.003
    return pts, np.column_stack([ax, ay, bx, by])


def _brute_pairs(pts, segs, radius):
    out = {}
    for pi, (py_, px) in enumerate(pts):
        for si, (ax, ay, bx, by) in enumerate(segs):
            d = float(
                geo.point_segment_dist_np(
                    np.array([py_]), np.array([px]),
                    np.array([ay]), np.array([ax]),
                    np.array([by]), np.array([bx]),
                )[0]
            )
            if d <= radius:
                out[(pi, si)] = d
    return out


@pytest.mark.parametrize("seed", [7, 19, 101])
def test_radius_join_matches_bruteforce(spark, seed):
    radius = 150.0
    pts, segs = _random_layout(seed)
    pdf = spark.createDataFrame(
        [(i, float(la), float(lo)) for i, (la, lo) in enumerate(pts)],
        "point_id long, lat double, lon double",
    )
    sdf = spark.createDataFrame(
        [(i, 0, float(a), float(b), float(c), float(d)) for i, (a, b, c, d) in enumerate(segs)],
        "edge_id long, seg_idx int, ax double, ay double, bx double, by double",
    )
    got = {
        (r.point_id, r.edge_id): r.dist_m
        for r in spatial.radius_join_segments(
            pdf, sdf, radius_m=radius, point_id="point_id", seg_id="edge_id"
        ).collect()
    }
    want = _brute_pairs(pts, segs, radius)
    assert set(got) == set(want), (
        f"seed {seed}: missing {sorted(set(want) - set(got))[:5]}, "
        f"extra {sorted(set(got) - set(want))[:5]}"
    )
    for k, d in want.items():
        assert abs(got[k] - d) < 1e-6, (k, got[k], d)


@pytest.mark.parametrize("seed", [7, 101])
def test_knn1_matches_bruteforce(spark, seed):
    radius = 200.0
    pts, segs = _random_layout(seed)
    pdf = spark.createDataFrame(
        [(i, float(la), float(lo)) for i, (la, lo) in enumerate(pts)],
        "point_id long, lat double, lon double",
    )
    sdf = spark.createDataFrame(
        [(i, 0, float(a), float(b), float(c), float(d)) for i, (a, b, c, d) in enumerate(segs)],
        "edge_id long, seg_idx int, ax double, ay double, bx double, by double",
    )
    got = {
        r.point_id: (r.edge_id, r.dist_m)
        for r in spatial.knn_join_segments(
            pdf, sdf, radii=(radius,), point_id="point_id", seg_id="edge_id"
        ).collect()
    }
    want = {}
    for (pi, si), d in _brute_pairs(pts, segs, radius).items():
        cur = want.get(pi)
        if cur is None or (d, si) < (cur[1], cur[0]):
            want[pi] = (si, d)
    assert set(got) == set(want)
    for pi, (si, d) in want.items():
        gsi, gd = got[pi]
        assert gsi == si and abs(gd - d) < 1e-6, (pi, got[pi], (si, d))


@pytest.mark.parametrize("seed", [7])
def test_knn_points_matches_bruteforce(spark, seed):
    """Point-to-point kNN(1) (signals->nodes path) vs haversine brute force."""
    radius = 250.0
    pts, segs = _random_layout(seed)
    nodes = segs[:, :2]  # (x, y) pairs as build side
    probe = spark.createDataFrame(
        [(i, float(la), float(lo)) for i, (la, lo) in enumerate(pts)],
        "sig_id long, lat double, lon double",
    )
    build = spark.createDataFrame(
        [(i, float(y), float(x)) for i, (x, y) in enumerate(nodes)],
        "node_id long, lat double, lon double",
    )
    got = {
        r.sig_id: (r.node_id, r.dist_m)
        for r in spatial.knn_join_points(
            probe, build, radius_m=radius, probe_id="sig_id", build_id="node_id"
        ).collect()
    }
    want = {}
    for pi, (py_, px) in enumerate(pts):
        for ni, (nx, ny) in enumerate(nodes):
            d = float(geo.haversine_np(np.array([py_]), np.array([px]), np.array([ny]), np.array([nx]))[0])
            if d <= radius:
                cur = want.get(pi)
                if cur is None or (d, ni) < (cur[1], cur[0]):
                    want[pi] = (ni, d)
    assert set(got) == set(want)
    for pi, (ni, d) in want.items():
        assert got[pi][0] == ni and abs(got[pi][1] - d) < 1e-6
