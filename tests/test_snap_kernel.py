"""The broadcast-index snap kernel (``spatial.knn_join_segments``)
against its SQL twins in ``tests/_twins.py``: the struct-min plan and its
per-rung cascade.

Every comparison is on ``(point_id, edge_id, dist_m bits, knn_rank, lat,
lon)``: the kernel must pick the same edge at the same distance, to the
bit, as the struct-min plan it replaced.
"""

import numpy as np
import pytest

from _twins import knn_cascade_sql, knn_struct_min_sql
from osmnetfusion_spark.driver_contract import FLAT_KX
from osmnetfusion_spark.functions import geo
from osmnetfusion_spark.operators import spatial as SP

RADII = (25.0, 60.0, 200.0)
LAT0, LON0 = 48.125, 11.5  # dyadic, so vertex/midpoint offsets are exact
KY = float(geo.M_PER_DEG)
KX = float(np.cos(np.radians(LAT0)) * geo.M_PER_DEG)
PTS = "point_id long, lat double, lon double"
SEGS = "edge_id long, seg_idx int, ax double, ay double, bx double, by double"


def _segments(edges):
    """``[(edge_id, [(lon, lat), ...]), ...]`` -> explode_segments rows."""
    return [
        (eid, i, float(a[0]), float(a[1]), float(b[0]), float(b[1]))
        for eid, coords in edges
        for i, (a, b) in enumerate(zip(coords[:-1], coords[1:]))
    ]


def _random_edges(rng, n):
    """``n`` random polylines of 2-5 vertices in a ~1.5 km box."""
    edges = []
    for eid in range(1, n + 1):
        x, y = rng.uniform(0, 1500, 2)
        coords = [(x, y)]
        for _ in range(rng.integers(1, 5)):
            x, y = x + rng.normal(0, 150), y + rng.normal(0, 150)
            coords.append((x, y))
        edges.append((eid, [(LON0 + cx / KX, LAT0 + cy / KY) for cx, cy in coords]))
    return edges


def _random_points(rng, n):
    xy = rng.uniform(-300, 1800, (n, 2))
    return [(i, float(LAT0 + y / KY), float(LON0 + x / KX)) for i, (x, y) in enumerate(xy)]


def _rows(df):
    return sorted(
        (r.point_id, r.edge_id, r.dist_m.hex(), r.knn_rank, r.lat, r.lon) for r in df.collect()
    )


def _both(spark, pts, segs, radii=RADII, flat_kx=None):
    """Kernel rows and SQL twin rows: the cascade, or with ``flat_kx`` the
    struct-min plan at the last radius."""
    p = spark.createDataFrame(pts, PTS)
    s = spark.createDataFrame(segs, SEGS)
    got = SP.knn_join_segments(p, s, radii=radii, carry=("lat", "lon"), flat_kx=flat_kx)
    if flat_kx is None:
        want = knn_cascade_sql(p, s, radii, carry=("lat", "lon"))
    else:
        want = knn_struct_min_sql(p, s, radii[-1], carry=("lat", "lon"), flat_kx=flat_kx)
    return _rows(got), _rows(want)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_kernel_matches_sql_cascade_on_random_layouts(spark, seed):
    rng = np.random.default_rng(seed)
    got, want = _both(spark, _random_points(rng, 1500), _segments(_random_edges(rng, 40)))
    assert got == want
    dists = [float.fromhex(r[2]) for r in got]
    # the layout exercises the first rung and the escalation past it
    assert min(dists) <= 25.0 < max(dists)
    assert len(got) < 1500  # and points beyond the last radius


@pytest.mark.parametrize("radii", [(200.0,), RADII])
def test_flat_kx_reaches_the_kernel(spark, radii):
    # the contract's fixed projection constant: the kernel must match the
    # struct-min plan under it, and differ from the default projection
    rng = np.random.default_rng(8)
    pts, segs = _random_points(rng, 600), _segments(_random_edges(rng, 30))
    got, want = _both(spark, pts, segs, radii=radii, flat_kx=FLAT_KX)
    assert got == want and got
    default, _ = _both(spark, pts, segs, radii=radii)
    assert {r[2] for r in got} != {r[2] for r in default}


def test_repeated_and_null_point_ids_each_snap(spark):
    # every row with finite coordinates is snapped on its own, whatever
    # its point_id; the struct-min plan collapses rows that share one
    rng = np.random.default_rng(9)
    pts = _random_points(rng, 300)
    s = spark.createDataFrame(_segments(_random_edges(rng, 20)), SEGS)
    shared = [(None if i % 3 == 0 else i % 7, la, lo) for i, la, lo in pts]

    def snap(rows):
        out = SP.knn_join_segments(
            spark.createDataFrame(rows, PTS), s, radii=RADII, carry=("lat", "lon")
        )
        # the random coordinates tell the rows apart
        return sorted(
            ((r.lat, r.lon), r.point_id, r.edge_id, r.dist_m.hex()) for r in out.collect()
        )

    own = snap(pts)
    assert len(own) > 100
    new_id = {(la, lo): i for i, la, lo in shared}
    assert snap(shared) == [(xy, new_id[xy], e, d) for xy, _, e, d in own]
    collapsed = knn_struct_min_sql(spark.createDataFrame(shared, PTS), s, RADII[-1])
    assert collapsed.count() == 8  # ids 0..6 and NULL


def test_ties_break_on_edge_id(spark):
    # every polyline twice, under two ids, the larger one first in the
    # input: each point ties exactly on distance and must take the
    # smaller id, as the (dist_m, edge_id) struct-min does
    rng = np.random.default_rng(7)
    base = _random_edges(rng, 15)
    edges = [(1000 + eid, c) for eid, c in base] + [(eid, c) for eid, c in base]
    got, want = _both(spark, _random_points(rng, 800), _segments(edges))
    assert got == want
    assert got and all(r[1] < 1000 for r in got)


def test_point_on_vertex_and_on_interior(spark):
    h = 2.0**-12  # ~30 m of latitude, exact in binary
    segs = _segments([
        (5, [(LON0, LAT0), (LON0, LAT0 + 2 * h)]),            # vertical
        (6, [(LON0 + 4 * h, LAT0), (LON0 + 6 * h, LAT0)]),    # horizontal
    ])
    pts = [
        (1, LAT0, LON0),                   # vertex a of edge 5
        (2, LAT0 + 2 * h, LON0),           # vertex b of edge 5
        (3, LAT0 + h, LON0),               # interior of edge 5
        (4, LAT0, LON0 + 5 * h),           # interior of edge 6
        (5, LAT0 + h / 2, LON0 + h / 64),  # near edge 5, off the line
    ]
    got, want = _both(spark, pts, segs)
    assert got == want
    by_id = {r[0]: r for r in got}
    for pid, eid in [(1, 5), (2, 5), (3, 5), (4, 6)]:
        assert by_id[pid][1] == eid and by_id[pid][2] == (0.0).hex()
    assert float.fromhex(by_id[5][2]) > 0.0


def test_points_only_the_last_rung_reaches(spark):
    # one short segment per 1 km block; every point sits 70-190 m off its
    # segment's midpoint, beyond the 25 and 60 m rungs
    rng = np.random.default_rng(11)
    edges, pts = [], []
    for k in range(20):
        x0, y0 = 1000.0 * (k % 5), 1000.0 * (k // 5)
        edges.append((k, [(LON0 + x0 / KX, LAT0 + y0 / KY), (LON0 + (x0 + 40) / KX, LAT0 + y0 / KY)]))
        for off in rng.uniform(70, 190, 5):
            pts.append((len(pts), float(LAT0 + (y0 + off) / KY), LON0 + (x0 + 20) / KX))
    got, want = _both(spark, pts, _segments(edges))
    assert got == want
    assert len(got) == len(pts)
    assert all(60.0 < float.fromhex(r[2]) <= 200.0 for r in got)


def test_null_coordinates_are_dropped(spark):
    rng = np.random.default_rng(3)
    pts = _random_points(rng, 200)
    pts += [(900, None, LON0), (901, LAT0, None), (902, None, None)]
    got, want = _both(spark, pts, _segments(_random_edges(rng, 10)))
    assert got == want
    assert not {900, 901, 902} & {r[0] for r in got}


def test_empty_input(spark):
    rng = np.random.default_rng(4)
    p = spark.createDataFrame([], PTS)
    s = spark.createDataFrame(_segments(_random_edges(rng, 5)), SEGS)
    out = SP.knn_join_segments(p, s, radii=RADII, carry=("lat", "lon"))
    assert out.columns == ["point_id", "edge_id", "dist_m", "knn_rank", "lat", "lon"]
    assert out.collect() == []
    assert _rows(knn_cascade_sql(p, s, RADII, carry=("lat", "lon"))) == []


def test_batch_spanning_several_pair_chunks(spark, monkeypatch):
    rng = np.random.default_rng(5)
    pts = _random_points(rng, 1000)
    segs = _segments(_random_edges(rng, 40))
    s = spark.createDataFrame(segs, SEGS)
    ix = SP._segment_index(s, RADII, "edge_id", None)
    lat = np.array([p[1] for p in pts])
    lon = np.array([p[2] for p in pts])
    one = SP._snap_points(lat, lon, ix, chunk=1 << 30)
    for chunk in (1, 64):
        many = SP._snap_points(lat, lon, ix, chunk=chunk)
        assert all(np.array_equal(a, b) for a, b in zip(one, many))
    # the driver reads PAIR_CHUNK when it plans the snap; at 64 each
    # Arrow batch expands its candidates over several chunks
    _, res, cells, _ = ix["rungs"][0]
    c = SP.h3idx.cell_np(lat, lon, res)
    pairs = np.searchsorted(cells, c, "right") - np.searchsorted(cells, c, "left")
    assert pairs.sum() > 10 * 64
    monkeypatch.setattr(SP, "PAIR_CHUNK", 64)
    got, want = _both(spark, pts, segs)
    assert got == want


def test_index_over_guard_raises(spark, monkeypatch):
    rng = np.random.default_rng(6)
    p = spark.createDataFrame(_random_points(rng, 10), PTS)
    s = spark.createDataFrame(_segments(_random_edges(rng, 5)), SEGS)
    monkeypatch.setattr(SP, "BROADCAST_GUARD_BYTES", 1000)
    with pytest.raises(ValueError, match=r"segment index is \d+ bytes"):
        SP.knn_join_segments(p, s, radii=RADII)
