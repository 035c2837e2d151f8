"""Spatial primitives + cell-local joins vs brute-force numpy oracles."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osmnetfusion_spark import h3idx, synth
from osmnetfusion_spark.functions import geo
from osmnetfusion_spark.operators import spatial
from osmnetfusion_spark.plans import pages as P
from osmnetfusion_spark.plans import tiles as T


def test_cell_encode_roundtrip():
    lat = np.array([48.137, 48.101, 48.299])
    lon = np.array([11.575, 11.501, 11.699])
    for res in (5, 10, 15):
        c = h3idx.cell_np(lat, lon, res)
        clat, clon = h3idx.cell_center_np(c)
        half = h3idx.size_deg(res) / 2
        assert np.all(np.abs(clat - lat) <= half + 1e-12)
        assert np.all(np.abs(clon - lon) <= half + 1e-12)
        # parent relation: encode at res-1 == parent of res
        r, i, j = h3idx.decode_np(c)
        pc = h3idx.cell_np(lat, lon, res - 1)
        pr, pi, pj = h3idx.decode_np(pc)
        assert np.all(pi == i // 2) and np.all(pj == j // 2)


def test_cell_col_matches_numpy(spark):
    pts = [(48.137, 11.575), (48.101, 11.501), (48.299, 11.699)]
    df = spark.createDataFrame(pts, "lat double, lon double")
    got = [r.c for r in df.select(h3idx.cell_col(F.col("lat"), F.col("lon"), 12).alias("c")).collect()]
    want = h3idx.cell_np(np.array([p[0] for p in pts]), np.array([p[1] for p in pts]), 12)
    assert got == list(want)


def test_ring_and_dilate():
    c = int(h3idx.cell_np(np.array([48.1]), np.array([11.5]), 10)[0])
    r1 = h3idx.ring_np(c, 1)
    assert len(r1) == 9 and c in r1
    d = h3idx.dilate_cells_np(np.array([c]), 1)
    assert sorted(d) == sorted(r1)


def test_pick_res_ring1_completeness():
    # at the chosen res, any point within radius of another is in ring-1
    for radius in (20.0, 30.0, 200.0):
        res = h3idx.pick_res(radius, lat=48.3)
        lat_m, lon_m = h3idx.cell_dims_m(res, 48.3)
        assert min(lat_m, lon_m) >= radius


def test_haversine_known():
    # Munich Marienplatz -> Odeonsplatz is ~ 900m... use an analytic check:
    # 1 deg of latitude ~ 111.19 km on the sphere
    d = geo.haversine_np(np.array([48.0]), np.array([11.5]), np.array([49.0]), np.array([11.5]))[0]
    assert d == pytest.approx(geo.M_PER_DEG, rel=1e-6)


def test_point_segment_dist():
    # horizontal segment at lat 48, point 100m north of midpoint
    dlat = 100.0 / geo.M_PER_DEG
    d = geo.point_segment_dist_np(
        np.array([48.0 + dlat]), np.array([11.505]),
        np.array([48.0]), np.array([11.50]), np.array([48.0]), np.array([11.51]),
    )[0]
    assert d == pytest.approx(100.0, rel=1e-3)
    # beyond endpoint: clamps to endpoint distance
    d2 = geo.point_segment_dist_np(
        np.array([48.0]), np.array([11.52]),
        np.array([48.0]), np.array([11.50]), np.array([48.0]), np.array([11.51]),
    )[0]
    assert d2 == pytest.approx(
        geo.haversine_np(np.array([48.0]), np.array([11.52]), np.array([48.0]), np.array([11.51]))[0],
        rel=1e-3,
    )


def test_point_in_polygon_concave():
    # concave "C" shape
    poly = np.array([
        [0, 0], [4, 0], [4, 1], [1, 1], [1, 3], [4, 3], [4, 4], [0, 4], [0, 0]
    ], dtype=float)
    px = np.array([2.0, 0.5, 2.0, 3.9, -1.0])
    py = np.array([2.0, 2.0, 0.5, 3.5, 2.0])
    got = geo.point_in_polygon_np(px, py, poly)
    assert list(got) == [False, True, True, True, False]


def test_knn_join_matches_bruteforce(spark):
    pg = P.dedupe_latest(synth.pages(spark, 400))
    city = synth.synthetic_city(1)
    edges = spark.createDataFrame(city["edges"]).withColumnRenamed("osmid", "edge_id")
    segs = spatial.explode_segments(edges).select("edge_id", "seg_idx", "ax", "ay", "bx", "by")

    got = {
        r.url: (r.edge_id, r.dist_m)
        for r in P.snap_pages_to_edges(pg, segs, radius_m=200.0).collect()
    }

    # brute force oracle
    pts = pg.select("url", "lat", "lon").toPandas()
    sg = segs.toPandas()
    for _, p in pts.iterrows():
        d = geo.point_segment_dist_np(
            np.full(len(sg), p.lat), np.full(len(sg), p.lon),
            sg.ay.to_numpy(), sg.ax.to_numpy(), sg.by.to_numpy(), sg.bx.to_numpy(),
        )
        per_edge = {}
        for eid, dist in zip(sg.edge_id, d):
            per_edge[eid] = min(per_edge.get(eid, np.inf), dist)
        cands = [(dist, eid) for eid, dist in per_edge.items() if dist <= 200.0]
        if not cands:
            assert p.url not in got
            continue
        best = min(cands)
        assert p.url in got, p.url
        assert got[p.url][0] == best[1]
        assert got[p.url][1] == pytest.approx(best[0], rel=1e-9)


def test_pip_join_matches_bruteforce(spark):
    pg = P.dedupe_latest(synth.pages(spark, 300)).select("url", "lat", "lon")
    pg = pg.withColumn("point_id", F.abs(F.hash("url")).cast("long"))
    city = synth.synthetic_city(1)
    polys_pd = city["landuse_green"]
    polys_pd = polys_pd[polys_pd.geom_type == "Polygon"][["layer_id", "geometry"]]
    polys = spark.createDataFrame(polys_pd).withColumnRenamed("layer_id", "poly_id")

    got = {
        (r.point_id, r.poly_id)
        for r in spatial.pip_join(pg, polys, point_id="point_id", poly_id="poly_id").collect()
    }
    pts = pg.toPandas()
    want = set()
    for _, prow in polys_pd.iterrows():
        ring = np.asarray(prow.geometry, dtype=float)
        inside = geo.point_in_polygon_np(pts.lon.to_numpy(), pts.lat.to_numpy(), ring)
        for pid in pts.point_id.to_numpy()[inside]:
            want.add((int(pid), int(prow.layer_id)))
    assert got == want
    assert len(want) > 0  # fixture actually exercises containment


def test_intersection_length_join(spark):
    # one polygon, one segment crossing it fully: length inside == chord
    poly = [[11.50, 48.10], [11.51, 48.10], [11.51, 48.11], [11.50, 48.11], [11.50, 48.10]]
    polys = spark.createDataFrame([(1, poly)], "poly_id long, geometry array<array<double>>")
    seg = spark.createDataFrame(
        [(7, 0, 11.495, 48.105, 11.515, 48.105)],
        "edge_id long, seg_idx int, ax double, ay double, bx double, by double",
    )
    out = spatial.intersection_length_join(seg, polys).collect()
    assert len(out) == 1
    chord = geo.haversine_np(np.array([48.105]), np.array([11.50]), np.array([48.105]), np.array([11.51]))[0]
    assert out[0].isect_len_m == pytest.approx(chord, rel=1e-6)


def test_tile_assignment_and_vectorize(spark):
    city = synth.synthetic_city(1)
    edges = spark.createDataFrame(city["edges"]).withColumnRenamed("osmid", "edge_id")
    segs = spatial.explode_segments(edges).select("edge_id", "seg_idx", "ax", "ay", "bx", "by")
    ta = T.edge_tile_assignment(segs)
    assert ta.count() > 0
    # vectorize round-trip: every tile ring contains its own center
    v = T.vectorize_tiles(ta.select("tile_id").distinct()).limit(5).collect()
    for r in v:
        clat, clon = h3idx.cell_center_np(np.array([r.tile_id]))
        ring = np.asarray(r.tile_ring)
        assert ring[0][0] <= clon[0] <= ring[2][0]
        assert ring[0][1] <= clat[0] <= ring[2][1]


def test_salted_list_agg_matches_plain(spark):
    from pyspark.sql import functions as F

    from osmnetfusion_spark.operators.skew import salted_list_agg

    # heavy-hitter key 0 holds 80% of rows (urban-core skew shape)
    df = spark.range(0, 5000).select(
        F.when(F.col("id") % 5 < 4, 0).otherwise(F.col("id") % 7).alias("k"),
        (F.col("id") % 997).alias("v"),
    )
    got = {
        r.k: r.vals
        for r in salted_list_agg(df, ["k"], "v", out="vals", n_salt=8).collect()
    }
    want = {
        r.k: r.vals
        for r in df.groupBy("k")
        .agg(F.array_sort(F.collect_set("v")).alias("vals"))
        .collect()
    }
    assert got == want
    # salt count must not change results
    got4 = {
        r.k: r.vals
        for r in salted_list_agg(df, ["k"], "v", out="vals", n_salt=4).collect()
    }
    assert got4 == want


class _FakeScan:
    """Just enough of a DataFrame for ``fan_out``: its input files, the
    session's default parallelism, and a repartition that records the
    call instead of planning it."""

    def __init__(self, files, parallelism=128):
        from types import SimpleNamespace

        self.files = files
        self.sparkSession = SimpleNamespace(
            sparkContext=SimpleNamespace(defaultParallelism=parallelism)
        )
        self.fanned = None

    def inputFiles(self):
        return self.files

    def repartition(self, n, *keys):
        self.fanned = (n, keys)
        return self


def test_scan_bytes_and_fan_out_size_guard(spark, tmp_path):
    """One sizing helper (``scan_bytes``) serves both the broadcast guard
    and ``fan_out``: both file URI renderings resolve; a remote scheme or
    an unreadable file reads as 'too big' (inf), never as 'no estimate'
    -- None would silently re-enable the broadcast hint for an
    unsizeable build side -- and every file of the scan counts toward
    the small-scan limit, not a sample of them."""
    import os

    from pyspark.sql import functions as F

    from osmnetfusion_spark.operators.partitioning import (
        SMALL_SCAN_BYTES,
        fan_out,
        scan_bytes,
    )

    p = str(tmp_path / "sz.parquet")
    spark.range(0, 1000, 1, 1).write.parquet(p)  # one file: a thin scan
    df = spark.read.parquet(p)
    est = scan_bytes(df)
    assert est is not None and 0 < est < 1 << 20
    assert scan_bytes(spark.range(10)) is None  # not a file scan

    def plan(d):
        return d._jdf.queryExecution().optimizedPlan().toString()

    assert "RepartitionByExpression [id" in plan(fan_out(df, "id"))
    assert "Repartition " in plan(fan_out(df))  # round-robin without keys
    built = spark.range(10).withColumn("x", F.col("id"))
    assert fan_out(built, "id") is built  # non-file source: untouched

    real = [f for f in os.listdir(p) if f.endswith(".parquet")][0]
    size = os.path.getsize(os.path.join(p, real))
    # both URI forms the JVM can emit size the same small file -- and a
    # small scan in either form fans out
    for uri in (f"file://{p}/{real}", f"file:{p}/{real}"):
        fake = _FakeScan([uri])
        assert scan_bytes(fake) == size
        fan_out(fake, "id")
        assert fake.fanned == (128, ("id",)), uri

    big = str(tmp_path / "big.bin")
    with open(big, "wb") as f:
        f.truncate(SMALL_SCAN_BYTES + 1)  # sparse: no disk space used
    many = tmp_path / "many"
    many.mkdir()
    parts = []
    for i in range(65):  # the first 64 total exactly the limit
        part = str(many / f"part-{i:03d}")
        with open(part, "wb") as f:
            f.truncate(2 << 20)
        parts.append(f"file://{part}")
    # none of these may fan out: a big scan in the file:/p rendering, a
    # remote scheme (even when its bare path exists locally), an
    # unreadable file, and a 65-file scan whose total passes the limit
    for files, want in (
        ([f"file:{big}"], SMALL_SCAN_BYTES + 1),
        ([f"s3a://bucket{p}/{real}"], float("inf")),
        (["file:///nonexistent/definitely/missing.parquet"], float("inf")),
        (parts, 65 * (2 << 20)),
    ):
        fake = _FakeScan(files)
        assert scan_bytes(fake) == want, files[0]
        fan_out(fake, "id")
        assert fake.fanned is None, files[0]
    # a scan with as many files as the parallelism is already split
    fake = _FakeScan(parts[:8], parallelism=8)
    fan_out(fake)
    assert fake.fanned is None
