"""Cell-local spatial join operators.

The reference's spatial predicates are shapely STRtree probes and
``sjoin_nearest`` calls with metre caps (``p2_enrichData.py:140, 453, 541,
590``; ``p3_functions.py:406``). None of that distributes. Here the
radius, point-kNN, point-in-polygon and intersection joins are the same
two-phase plan:

1. **candidate generation** -- both sides keyed by grid cells
   (:mod:`..h3idx`); the *small* (build) side is exploded to its cover cells
   dilated by ring-1, the *large* (probe) side contributes only its own
   cell; a plain equi-join on ``cell`` produces candidate pairs. The
   explosion is pure column arithmetic (sequence/transform/flatten), so the
   whole candidate stage is JVM-side whole-stage codegen and Catalyst/AQE
   handle the join strategy (broadcast for small builds, skew-split for hot
   cells).
2. **exact refinement** -- closed-form distance as column math (radius
   and point-kNN joins), or a vectorized numpy kernel in a pandas UDF
   (ray-casting PIP, segment-clip intersection length) where no closed
   form exists.

Ring-1 dilation is complete because :func:`..h3idx.pick_res` chooses the
finest resolution whose cell short side still exceeds the join radius.

The kNN(1) point-to-segment snap (:func:`knn_join_segments`, every
``sjoin_nearest`` onto edges) uses the same cells and distance terms, but
collects them into a numpy index that is broadcast once; each probe batch
is then joined and refined in one ``mapInArrow`` kernel, with no shuffle
or aggregate.
"""

from __future__ import annotations

from functools import reduce
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import h3idx
from ..functions import geo
from .partitioning import fan_out, scan_bytes


# conservative ceiling for an explicit build-side broadcast and for the
# kNN segment index: cover-cell explosion multiplies the segment rows
# ~3-5x, and every executor holds a full copy, so cap well below typical
# executor memory
BROADCAST_GUARD_BYTES = 256 << 20


def _maybe_broadcast(df: DataFrame, want: bool) -> DataFrame:
    """Broadcast hint with a size guard.

    ``want=True`` is the caller's claim that the build side is small (the
    simplified network). A caller accidentally passing a planet-scale
    network must not OOM every executor: if the source files exceed
    BROADCAST_GUARD_BYTES the hint is dropped and AQE picks the join
    strategy from runtime sizes instead. Remote (non-file://) build sides
    can never be sized locally, so they NEVER get the explicit hint —
    fail-safe: AQE still broadcasts them at runtime if they turn out small.
    """
    if not want:
        return df
    est = scan_bytes(df)
    if est is not None and est > BROADCAST_GUARD_BYTES:
        return df
    return F.broadcast(df)


# ----------------------------------------------------------- cover / explode


def explode_segments(edges: DataFrame, geom: str = "geometry") -> DataFrame:
    """One row per consecutive coord pair of ``geom`` ([[lon,lat],...]).

    Adds ``seg_idx, ax, ay, bx, by`` (x=lon, y=lat). Pure SQL higher-order
    functions -- no UDF, no shuffle.
    """
    segs = F.filter(
        F.transform(
            F.col(geom),
            lambda c, i: F.struct(
                i.alias("seg_idx"),
                c[0].alias("ax"),
                c[1].alias("ay"),
                F.try_element_at(F.col(geom), i + 2)[0].alias("bx"),
                F.try_element_at(F.col(geom), i + 2)[1].alias("by"),
            ),
        ),
        lambda s, : s["seg_idx"] < F.size(F.col(geom)) - 1,
    )
    return edges.withColumn("_seg", F.explode(segs)).select("*", "_seg.*").drop("_seg")


def cover_segment_cells(
    ax: Column, ay: Column, bx: Column, by: Column, res: int, dilate_k: int = 0
) -> Column:
    """Cells crossed by a segment (optionally ring-k dilated), column-only,
    by half-cell-step supercover sampling."""
    half = h3idx.size_deg(res) * 0.5
    steps = F.greatest(
        F.ceil(F.greatest(F.abs(bx - ax), F.abs(by - ay)) / F.lit(half)).cast("int"),
        F.lit(1),
    )
    frac = lambda s: s.cast("double") / steps.cast("double")  # noqa: E731
    cells = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), steps),
            lambda s: h3idx.cell_col(ay + (by - ay) * frac(s), ax + (bx - ax) * frac(s), res),
        )
    )
    return dilate_cells(cells, dilate_k) if dilate_k else cells


def dilate_cells(cells: Column, k: int = 1) -> Column:
    """Ring-k dilation of an array<long> of cell ids, column-only."""
    offs = h3idx.ring_offsets(k)
    return F.array_distinct(
        F.flatten(F.transform(cells, lambda c: F.array(*[c + F.lit(o) for o in offs])))
    )


def cover_bbox_cells(
    min_lat: Column, min_lon: Column, max_lat: Column, max_lon: Column, res: int
) -> Column:
    """All cells overlapping a bbox, column-only (polygon build side)."""
    inv = float(1 << res)
    i0 = F.floor((min_lon + 180.0) * inv).cast("long")
    i1 = F.floor((max_lon + 180.0) * inv).cast("long")
    j0 = F.floor((min_lat + 90.0) * inv).cast("long")
    j1 = F.floor((max_lat + 90.0) * inv).cast("long")
    base = F.lit(res * h3idx.SHIFT_RES)
    return F.flatten(
        F.transform(
            F.sequence(j0, j1),
            lambda j: F.transform(F.sequence(i0, i1), lambda i: base + j * F.lit(h3idx.SHIFT_J) + i),
        )
    )


# ------------------------------------------------------------------ kNN join


def _ring1_cover(res: int) -> Column:
    """Ring-1-dilated cover cells of the ``ax, ay, bx, by`` segment at ``res``."""
    return cover_segment_cells(
        F.col("ax"), F.col("ay"), F.col("bx"), F.col("by"), res, dilate_k=1
    )


def _segment_terms(segs: DataFrame, flat_kx: float | None = None) -> DataFrame:
    """Add the segment-only terms of :func:`..functions.geo.point_segment_dist_m`
    (``__kx, __abx, __aby, __v``) to ``segs``.

    They are pure functions of the segment, so they are computed ONCE per
    segment, in Spark, and the snap kernel and its SQL oracle
    (``tests/_twins.py::knn_struct_min_sql``) read the same bits.
    """
    m = F.lit(geo.M_PER_DEG)
    return (
        segs.withColumn(
            "__kx",
            F.lit(float(flat_kx))
            if flat_kx is not None
            else F.cos(F.radians((F.col("ay") + F.col("by")) * 0.5)) * m,
        )
        .withColumn("__abx", (F.col("bx") - F.col("ax")) * F.col("__kx"))
        .withColumn("__aby", (F.col("by") - F.col("ay")) * m)
        .withColumn("__v", F.col("__abx") * F.col("__abx") + F.col("__aby") * F.col("__aby"))
    )


def radius_join_segments(
    points: DataFrame,
    segments: DataFrame,
    radius_m: float,
    point_id: str = "point_id",
    seg_id: str = "edge_id",
    lat: str = "lat",
    lon: str = "lon",
    broadcast_build: bool = True,
    flat_kx: float | None = None,
) -> DataFrame:
    """In-radius membership join: one row per (point, entity) pair within
    ``radius_m``, with ``dist_m`` = min distance over the entity's segments.

    This is the radius half of the reference's amenity join
    (``p2_enrichData.py:536-552`` -- every edge within 200 m gets
    ``amenity_nearby``). There is no per-point ranking: every in-radius
    entity is kept. Callers that also need a nearest-entity flag take it
    from :func:`knn_join_segments`.
    """
    res = h3idx.pick_res(radius_m)
    build = segments.withColumn("cell", F.explode(_ring1_cover(res)))
    probe = fan_out(points, point_id).withColumn(
        "cell", h3idx.cell_col(F.col(lat), F.col(lon), res)
    )

    cand = probe.join(_maybe_broadcast(build, broadcast_build), "cell").withColumn(
        "seg_dist_m",
        geo.point_segment_dist_m(
            F.col(lat), F.col(lon), F.col("ay"), F.col("ax"), F.col("by"), F.col("bx"),
            flat_kx=flat_kx,
        ),
    )
    cand = cand.filter(F.col("seg_dist_m") <= F.lit(float(radius_m)))
    # per (point, entity): min over that entity's segments (and dup cells)
    return cand.groupBy(point_id, seg_id).agg(F.min("seg_dist_m").alias("dist_m"))


#: Most (point, segment) candidate pairs the snap kernel expands at once.
#: A 20,000-row batch escalated whole to 200 m (up to ~500 candidates a
#: point) would otherwise expand ~10M pairs at ~150 bytes each; chunking
#: bounds the kernel's working set whatever the batch size or radius.
PAIR_CHUNK = 1 << 20


def _segment_index(
    segments: DataFrame, radii: tuple[float, ...], seg_id: str, flat_kx: float | None
) -> dict:
    """Driver-side cell index of ``segments`` for the snap kernel, in ONE
    Spark job (``toArrow``).

    Segments are sorted by ``seg_id``, so a segment's row number orders
    ties exactly as the ``(dist_m, seg_id)`` rule does. Per segment it keeps
    ``ax, ay`` and the :func:`_segment_terms` (``flat_kx`` as there); per
    rung, the ring-1 cover cells of every segment as sorted ``cells`` with
    their segment ``rows``. Raises ``ValueError`` when the index exceeds
    :data:`BROADCAST_GUARD_BYTES`.
    """
    res = [h3idx.pick_res(r) for r in radii]
    tbl = (
        _segment_terms(
            segments.select(F.col(seg_id).alias("__e"), "ax", "ay", "bx", "by"), flat_kx
        )
        .select(
            "__e", "ax", "ay", "__kx", "__abx", "__aby", "__v",
            *[_ring1_cover(rs).alias(f"__c{i}") for i, rs in enumerate(res)],
        )
        .toArrow()
    )
    tbl = tbl.take(pc.sort_indices(tbl, [("__e", "ascending")], null_placement="at_start"))
    ix = {
        k.strip("_"): tbl.column(k).to_numpy()
        for k in ("ax", "ay", "__kx", "__abx", "__aby", "__v")
    }
    ix["ids"] = tbl.column("__e").combine_chunks()
    ix["rungs"] = []
    for i, (r, rs) in enumerate(zip(radii, res)):
        cover = tbl.column(f"__c{i}").combine_chunks()
        cells = pc.list_flatten(cover).to_numpy()
        rows = pc.list_parent_indices(cover).to_numpy().astype(np.int32)
        order = np.argsort(cells, kind="stable")
        ix["rungs"].append((float(r), rs, cells[order], rows[order]))
    size = sum(a.nbytes for k, a in ix.items() if k != "rungs")
    size += sum(a.nbytes for rung in ix["rungs"] for a in rung[2:])
    if size > BROADCAST_GUARD_BYTES:
        raise ValueError(
            f"segment index is {size} bytes, over BROADCAST_GUARD_BYTES "
            f"({BROADCAST_GUARD_BYTES}); snap against a smaller network"
        )
    return ix


def _segment_dist_np(plat: np.ndarray, plon: np.ndarray, ix: dict, sg: np.ndarray) -> np.ndarray:
    """Point-to-segment distance (m) of each ``(plat, plon)`` to index row
    ``sg``: the same IEEE operations, in the same order, as the column
    expression of :func:`..functions.geo.point_segment_dist_m`."""
    kx = ix["kx"][sg]
    v = ix["v"][sg]
    apx = (plon - ix["ax"][sg]) * kx
    apy = (plat - ix["ay"][sg]) * geo.M_PER_DEG
    u = apx * ix["abx"][sg] + apy * ix["aby"][sg]
    w = apx * apx + apy * apy
    with np.errstate(divide="ignore", invalid="ignore"):
        d2 = np.where(u <= 0, w, np.where(u >= v, w - 2 * u + v, w - (u * u) / v))
    return np.sqrt(np.maximum(d2, 0.0))


def _snap_points(
    lat: np.ndarray, lon: np.ndarray, ix: dict, chunk: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """kNN(1) segment of each point over the index's rungs, escalating
    only the points a rung left unmatched. Returns ``(point rows, segment
    rows, dist_m)`` of the matched points, in point order; points with a
    NULL/non-finite coordinate or no segment within the last radius are
    absent."""
    todo = np.flatnonzero(np.isfinite(lat) & np.isfinite(lon))
    out: list[tuple[np.ndarray, ...]] = []
    for r, res, cells, cseg in ix["rungs"]:
        if not len(todo):
            break
        c = h3idx.cell_np(lat[todo], lon[todo], res)
        lo = np.searchsorted(cells, c, "left")
        cnt = np.searchsorted(cells, c, "right") - lo
        ends = np.cumsum(cnt)
        hit = np.zeros(len(todo), dtype=bool)
        s = 0
        while s < len(todo):
            # points s..e-1 expand to at most `chunk` pairs (one point alone
            # may exceed it)
            base = ends[s] - cnt[s]
            e = max(int(np.searchsorted(ends, base + chunk, "right")), s + 1)
            k = cnt[s:e]
            p = np.repeat(np.arange(s, e), k)
            sg = cseg[np.repeat(lo[s:e] - (ends[s:e] - k), k) + np.arange(base, ends[e - 1])]
            d = _segment_dist_np(lat[todo[p]], lon[todo[p]], ix, sg)
            ok = d <= r
            p, sg, d = p[ok], sg[ok], d[ok]
            o = np.lexsort((sg, d, p))
            p, sg, d = p[o], sg[o], d[o]
            first = np.ones(len(p), dtype=bool)
            first[1:] = p[1:] != p[:-1]
            out.append((todo[p[first]], sg[first], d[first]))
            hit[p[first]] = True
            s = e
        todo = todo[~hit]
    if not out:
        return np.zeros(0, np.int64), np.zeros(0, np.int32), np.zeros(0)
    rows, sg, d = (np.concatenate(x) for x in zip(*out))
    o = np.argsort(rows, kind="stable")
    return rows[o], sg[o], d[o]


def knn_join_segments(
    points: DataFrame,
    segments: DataFrame,
    radii: tuple[float, ...],
    point_id: str = "point_id",
    seg_id: str = "edge_id",
    lat: str = "lat",
    lon: str = "lon",
    carry: tuple[str, ...] = (),
    flat_kx: float | None = None,
) -> DataFrame:
    """kNN(1) snap of points to polyline *segments* within ``radii[-1]``
    metres, as one ``mapInArrow`` kernel over a broadcast cell index.

    Replaces the reference's ``sjoin_nearest(max_distance=...)`` snaps
    onto edges (amenities 200 m ``p2_enrichData.py:541``, PT stops 30 m
    ``:590``) and the graft's pages->edges snap. A single radius is
    ``radii=(r,)``; more rungs only change the speed, never the result.

    ``segments`` must carry ``ax, ay, bx, by`` (from
    :func:`explode_segments`). Returns ``(point_id, seg_id, dist_m,
    knn_rank, *carry)``: one row per input row with finite coordinates
    and a segment within the last radius, ``knn_rank`` always 1, ties
    broken on ``(dist_m, seg_id)``. Each input row is snapped on its own,
    whatever its ``point_id`` (NULL and repeated ids included).
    ``flat_kx`` fixes the metres-per-degree of longitude, as in
    :func:`..functions.geo.point_segment_dist_m`.

    - :func:`_segment_index` builds the per-rung index in one Spark job
      and ships it with ``sparkContext.broadcast``. A ``ValueError`` names
      its size when it exceeds :data:`BROADCAST_GUARD_BYTES`; there is no
      SQL fallback.
    - Each Arrow batch of points is snapped in numpy (:func:`_snap_points`):
      the finest radius first (fine cells, few candidates per point), and
      only the points it leaves unmatched escalate; a match within r_i is
      the nearest within any r_j > r_i too. Candidate pairs are expanded
      at most :data:`PAIR_CHUNK` at a time.

    The plan has no shuffle, aggregate, anti-join or checkpoint, so a lazy
    ``points`` input is evaluated once per consumption of the result.
    Reference twins: ``tests/_twins.py::knn_struct_min_sql`` (one radius)
    and ``knn_cascade_sql`` (the per-rung SQL cascade).
    """
    radii = tuple(float(r) for r in radii)
    bc = points.sparkSession.sparkContext.broadcast(
        _segment_index(segments, radii, seg_id, flat_kx)
    )
    chunk = PAIR_CHUNK  # bound into the closure: workers do not see driver globals
    carry_out = [c for c in carry if c != point_id]
    schema = T.StructType([
        T.StructField(point_id, points.schema[point_id].dataType),
        T.StructField(seg_id, segments.schema[seg_id].dataType),
        T.StructField("dist_m", T.DoubleType()),
        T.StructField("knn_rank", T.IntegerType()),
        *[T.StructField(c, points.schema[c].dataType) for c in carry_out],
    ])

    def snap(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ix = bc.value
        for b in batches:
            plat, plon = (
                np.asarray(b.column(c).to_numpy(zero_copy_only=False), dtype=np.float64)
                for c in (lat, lon)
            )
            rows, sg, d = _snap_points(plat, plon, ix, chunk)
            rows = pa.array(rows)
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(point_id).take(rows),
                    ix["ids"].take(pa.array(sg)),
                    pa.array(d, pa.float64()),
                    pa.array(np.ones(len(d), np.int32)),
                    *[b.column(c).take(rows) for c in carry_out],
                ],
                names=schema.names,
            )

    cols = list(dict.fromkeys([point_id, lat, lon, *carry_out]))
    return fan_out(points.select(*cols)).mapInArrow(snap, schema)


def knn_join_points_adaptive(
    probe: DataFrame,
    build: DataFrame,
    radii: tuple[float, ...] = (30.0, 250.0),
    probe_id: str = "probe_id",
    build_id: str = "build_id",
    probe_lat: str = "lat",
    probe_lon: str = "lon",
    build_lat: str = "lat",
    build_lon: str = "lon",
) -> DataFrame:
    """Escalating-radius kNN(1) point snap.

    A single pass at a large radius forces coarse cells; when the whole
    region spans only a handful of them the cell join degenerates to a
    cross product (measured: the 50k x 10k signal snap produced 4.1e8
    candidate pairs in 9 cells). Snapping at the finest radius first
    keeps the per-cell candidate product tiny, and only unmatched points
    escalate: each rung is materialized once and a left-anti join on
    ``probe_id`` passes the rest on. Identical to the single-pass result:
    a match within radius r_i is by definition the global nearest within
    any r_j > r_i, and the (dist, id) tie-break is the same at every level.
    """
    remaining, outs = probe, []
    for r in radii:
        matched = knn_join_points(
            remaining, build, radius_m=r,
            probe_id=probe_id, build_id=build_id,
            probe_lat=probe_lat, probe_lon=probe_lon,
            build_lat=build_lat, build_lon=build_lon,
        ).localCheckpoint()
        outs.append(matched)
        remaining = remaining.join(matched.select(probe_id), probe_id, "left_anti")
    return reduce(DataFrame.unionByName, outs)


def knn_join_points(
    probe: DataFrame,
    build: DataFrame,
    radius_m: float,
    probe_id: str = "probe_id",
    build_id: str = "build_id",
    probe_lat: str = "lat",
    probe_lon: str = "lon",
    build_lat: str = "lat",
    build_lon: str = "lon",
) -> DataFrame:
    """kNN(1) (<= radius_m) point-to-point join (signals -> nearest node).

    Runs as a struct-min over ``(dist_m, build_id, *probe columns)``
    per ``probe_id``. This assumes ``probe_id`` is unique in ``probe``:
    probe rows sharing an id form one group, and at a (dist, build_id)
    tie the probe columns themselves decide which row's values are
    returned. Every probe column must also be orderable (no map
    columns), because it rides inside the min struct.
    """
    res = h3idx.pick_res(radius_m)
    b = build.select(
        F.col(build_id).alias("__bid"),
        F.col(build_lat).alias("__blat"),
        F.col(build_lon).alias("__blon"),
    ).withColumn(
        "cell",
        F.explode(
            dilate_cells(F.array(h3idx.cell_col(F.col("__blat"), F.col("__blon"), res)), 1)
        ),
    )
    p = fan_out(probe, probe_id).withColumn(
        "cell", h3idx.cell_col(F.col(probe_lat), F.col(probe_lon), res)
    )
    cand = p.join(b, "cell").withColumn(
        "dist_m",
        geo.haversine_m(F.col(probe_lat), F.col(probe_lon), F.col("__blat"), F.col("__blon")),
    )
    cand = cand.filter(F.col("dist_m") <= F.lit(float(radius_m)))
    # kNN(1) = lexicographic struct-min on (dist, build_id) -- a
    # map-side-combinable aggregate that collapses every cell's candidate
    # product to one row per probe BEFORE the shuffle (measured 17 s ->
    # ~2 s against a row_number window on the 50k x 10k signal snap).
    # Ties break on (dist asc, build_id asc); probe columns are constant
    # per group and ride the fold.
    probe_cols = list(probe.columns)
    extra = [c for c in probe_cols if c != probe_id]
    best = cand.groupBy(probe_id).agg(
        F.min(
            F.struct(
                F.col("dist_m").alias("d"),
                F.col("__bid").alias("b"),
                *[F.col(c).alias(f"c_{c}") for c in extra],
            )
        ).alias("__best")
    )
    return best.select(
        *[
            F.col(f"__best.c_{c}").alias(c) if c != probe_id else F.col(probe_id)
            for c in probe_cols
        ],
        F.col("__best.b").alias(build_id),
        F.col("__best.d").alias("dist_m"),
        F.lit(1).alias("knn_rank"),
    )


# -------------------------------------------------------- point-in-polygon


def _pip_batch(pdf: pd.DataFrame) -> np.ndarray:
    """Groupwise-vectorized ray-casting over a candidate batch."""
    pdf = pdf.reset_index(drop=True)
    out = np.zeros(len(pdf), dtype=bool)
    keys = pdf["__poly_key"].to_numpy()
    for key in pd.unique(keys):
        pos = np.flatnonzero(keys == key)
        poly = np.array([list(c) for c in pdf["__poly"].iloc[pos[0]]], dtype=np.float64)
        out[pos] = geo.point_in_polygon_np(
            pdf["__px"].to_numpy()[pos], pdf["__py"].to_numpy()[pos], poly
        )
    return out


def pip_join(
    points: DataFrame,
    polys: DataFrame,
    point_id: str = "point_id",
    poly_id: str = "poly_id",
    lat: str = "lat",
    lon: str = "lon",
    geom: str = "geometry",
    res: int | None = None,
) -> DataFrame:
    """Point-in-polygon join: (point_id, poly_id) for every containment.

    Build side = polygons, exploded to bbox cover cells; refinement =
    ray-casting in an Arrow-batched pandas UDF (vectorized per polygon
    inside each batch). Replaces the reference's ``point.within(polygon)``
    loop (``p2_enrichData.py:106-116``).
    """
    if res is None:
        res = 12  # ~27 m cells; polygons are O(100 m)
    b = (
        polys.select(
            F.col(poly_id),
            F.col(geom).alias("__poly"),
            F.aggregate(F.col(geom), F.lit(1e9), lambda acc, c: F.least(acc, c[1])).alias("__mnlat"),
            F.aggregate(F.col(geom), F.lit(-1e9), lambda acc, c: F.greatest(acc, c[1])).alias("__mxlat"),
            F.aggregate(F.col(geom), F.lit(1e9), lambda acc, c: F.least(acc, c[0])).alias("__mnlon"),
            F.aggregate(F.col(geom), F.lit(-1e9), lambda acc, c: F.greatest(acc, c[0])).alias("__mxlon"),
        )
        .withColumn(
            "cell",
            F.explode(
                cover_bbox_cells(
                    F.col("__mnlat"), F.col("__mnlon"), F.col("__mxlat"), F.col("__mxlon"), res
                )
            ),
        )
        .drop("__mnlat", "__mxlat", "__mnlon", "__mxlon")
    )
    p = fan_out(points, point_id).withColumn(
        "cell", h3idx.cell_col(F.col(lat), F.col(lon), res)
    )
    cand = p.join(b, "cell").select(
        F.col(point_id),
        F.col(poly_id),
        F.col(lat).alias("__py"),
        F.col(lon).alias("__px"),
        F.col("__poly"),
        F.col(poly_id).alias("__poly_key"),
    )

    def refine(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf):
                pdf = pdf.reset_index(drop=True)
                pdf = pdf[_pip_batch(pdf)]
            yield pdf[[point_id, poly_id]]

    out_schema = f"{point_id} long, {poly_id} long"
    return cand.mapInPandas(refine, schema=out_schema).dropDuplicates([point_id, poly_id])


# ------------------------------------------- segment x polygon intersection


def _clip_len_batch(pdf: pd.DataFrame, poly_key: str = "__pkey") -> np.ndarray:
    """Length (m) of each segment's intersection with its candidate polygon.

    Crossing-parameter method: collect all t in [0,1] where the segment
    crosses a polygon edge, sort, then sum sub-intervals whose midpoint is
    inside (ray cast). Exact for simple polygons.

    Vectorized PER POLYGON: one Python iteration per distinct polygon in
    the batch, all of its candidate segments evaluated as (n_rows x
    n_edges) numpy broadcasts. Candidate batches repeat few polygons many
    times (every edge near a land-use polygon is a row), so this flips the
    loop count from O(candidates) to O(polygons). Element arithmetic is
    identical to the per-row formulation; duplicate crossing parameters
    contribute exactly-zero-width intervals, so results are bit-identical
    to the previous unique()-based scan.
    """
    out = np.zeros(len(pdf), dtype=np.float64)
    if not len(pdf):
        return out
    ax = pdf["ax"].to_numpy(); ay = pdf["ay"].to_numpy()
    bx = pdf["bx"].to_numpy(); by = pdf["by"].to_numpy()
    seg_len = geo.haversine_np(ay, ax, by, bx)
    keys = pdf[poly_key].to_numpy()
    for key in pd.unique(keys):
        pos = np.flatnonzero(keys == key)
        poly = np.array(
            [list(c) for c in pdf["__poly"].iloc[pos[0]]], dtype=np.float64
        )
        if len(poly) >= 2 and (poly[0] == poly[-1]).all():
            poly = poly[:-1]
        px0, py0 = poly[:, 0], poly[:, 1]
        px1, py1 = np.roll(px0, -1), np.roll(py0, -1)
        ex, ey = px1 - px0, py1 - py0          # (m,)
        a_x, a_y = ax[pos], ay[pos]
        dx, dy = bx[pos] - a_x, by[pos] - a_y  # (n,)
        den = dx[:, None] * ey[None, :] - dy[:, None] * ex[None, :]  # (n, m)
        with np.errstate(invalid="ignore", divide="ignore"):
            den = np.where(den == 0, np.nan, den)
            rx = px0[None, :] - a_x[:, None]
            ry = py0[None, :] - a_y[:, None]
            t = (rx * ey[None, :] - ry * ex[None, :]) / den
            s = (rx * dy[:, None] - ry * dx[:, None]) / den
        valid = (t >= 0) & (t <= 1) & (s >= 0) & (s <= 1) & np.isfinite(t)
        t = np.where(valid, t, np.nan)
        n = len(pos)
        ts = np.sort(
            np.concatenate(
                [np.zeros((n, 1)), np.ones((n, 1)), t], axis=1
            ),
            axis=1,
        )  # nans sort last
        d = ts[:, 1:] - ts[:, :-1]
        mid = (ts[:, 1:] + ts[:, :-1]) / 2.0
        mx = a_x[:, None] + dx[:, None] * mid
        my = a_y[:, None] + dy[:, None] * mid
        inside = geo.point_in_polygon_np(mx.ravel(), my.ravel(), poly).reshape(d.shape)
        frac = np.sum(np.where(inside & np.isfinite(d), d, 0.0), axis=1)
        out[pos] = frac * seg_len[pos]
    return out


def intersection_length_join(
    segments: DataFrame,
    polys: DataFrame,
    seg_id: str = "edge_id",
    poly_id: str = "poly_id",
    geom: str = "geometry",
    res: int = 12,
) -> DataFrame:
    """Per (segment-entity, polygon): intersection length in metres.

    Replaces the reference's STRtree ``intersects`` + shapely
    ``intersection().length`` accumulation (``p2_enrichData.py:119-144``).
    Output: ``(seg_id, poly_id, isect_len_m)`` summed over the entity's
    segments.
    """
    b = (
        polys.select(
            F.col(poly_id),
            F.col(geom).alias("__poly"),
            F.aggregate(F.col(geom), F.lit(1e9), lambda acc, c: F.least(acc, c[1])).alias("__mnlat"),
            F.aggregate(F.col(geom), F.lit(-1e9), lambda acc, c: F.greatest(acc, c[1])).alias("__mxlat"),
            F.aggregate(F.col(geom), F.lit(1e9), lambda acc, c: F.least(acc, c[0])).alias("__mnlon"),
            F.aggregate(F.col(geom), F.lit(-1e9), lambda acc, c: F.greatest(acc, c[0])).alias("__mxlon"),
        )
        .withColumn(
            "cell",
            F.explode(
                cover_bbox_cells(
                    F.col("__mnlat"), F.col("__mnlon"), F.col("__mxlat"), F.col("__mxlon"), res
                )
            ),
        )
        .drop("__mnlat", "__mxlat", "__mnlon", "__mxlon")
    )
    s = fan_out(segments, seg_id).withColumn(
        "cell",
        F.explode(cover_segment_cells(F.col("ax"), F.col("ay"), F.col("bx"), F.col("by"), res)),
    )
    cand = (
        s.join(b, "cell")
        .dropDuplicates([seg_id, "seg_idx", poly_id])
        .select(seg_id, "seg_idx", poly_id, "ax", "ay", "bx", "by", "__poly")
    )

    def refine(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf):
                pdf = pdf.assign(isect_len_m=_clip_len_batch(pdf, poly_key=poly_id))
            else:
                pdf = pdf.assign(isect_len_m=np.zeros(0))
            yield pdf[[seg_id, poly_id, "isect_len_m"]]

    out = cand.mapInPandas(refine, schema=f"{seg_id} long, {poly_id} long, isect_len_m double")
    return (
        out.filter(F.col("isect_len_m") > 0)
        .groupBy(seg_id, poly_id)
        .agg(F.sum("isect_len_m").alias("isect_len_m"))
    )
