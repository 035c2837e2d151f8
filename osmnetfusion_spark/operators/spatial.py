"""Cell-local spatial join operators.

The reference's spatial predicates are shapely STRtree probes and
``sjoin_nearest`` calls with metre caps (``p2_enrichData.py:140, 453, 541,
590``; ``p3_functions.py:406``). None of that distributes. Here every
spatial join is the same two-phase plan:

1. **candidate generation** -- both sides keyed by grid cells
   (:mod:`..h3idx`); the *small* (build) side is exploded to its cover cells
   dilated by ring-1, the *large* (probe) side contributes only its own
   cell; a plain equi-join on ``cell`` produces candidate pairs. The
   explosion is pure column arithmetic (sequence/transform/flatten), so the
   whole candidate stage is JVM-side whole-stage codegen and Catalyst/AQE
   handle the join strategy (broadcast for small builds, skew-split for hot
   cells).
2. **exact refinement** -- closed-form point-to-segment distance as column
   math (kNN), or a vectorized numpy kernel in a pandas UDF (ray-casting
   PIP, segment-clip intersection length) where no closed form exists.

Ring-1 dilation is complete because :func:`..h3idx.pick_res` chooses the
finest resolution whose cell short side still exceeds the join radius.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import h3idx
from ..functions import geo
from .partitioning import fan_out, scan_bytes


# conservative ceiling for an explicit build-side broadcast: cover-cell
# explosion multiplies the segment rows ~3-5x, and every executor holds a
# full copy, so cap well below typical executor memory
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


def knn_join_segments(
    points: DataFrame,
    segments: DataFrame,
    radius_m: float,
    point_id: str = "point_id",
    seg_id: str = "edge_id",
    lat: str = "lat",
    lon: str = "lon",
    broadcast_build: bool = True,
    carry: tuple[str, ...] = (),
    flat_kx: float | None = None,
) -> DataFrame:
    """kNN(1) (<= radius_m) join of points to polyline *segments*.

    ``segments`` must carry ``ax, ay, bx, by`` (from
    :func:`explode_segments`). Returns one row per matched point with
    ``seg_id``, ``dist_m`` and ``knn_rank`` (always 1). Deterministic ties:
    ``(dist_m, seg_id)``.

    Replaces the reference's ``sjoin_nearest(max_distance=...)`` snaps
    (signals->nodes 20 m ``p2_enrichData.py:453``, amenities->edges 200 m
    ``:541``, PT stops->edges 30 m ``:590``) and the graft's pages->edges
    snap; each takes only the nearest match.

    Plan: build side exploded to ring-1-dilated cover cells (small; stays
    under the broadcast threshold, so the candidate join is SHUFFLE-FREE
    and the per-candidate distance runs inside whole-stage codegen), then
    ONE ``groupBy(point).agg(min(struct(dist, seg_id)))`` -- lexicographic
    struct-min IS the kNN(1) rule, and partial aggregation collapses each
    map partition to ~one row per point before the only shuffle. The probe
    side is never exploded.

    ``broadcast_build``: hint when the SEGMENTS side is known small (the
    simplified network vs a page corpus). Pass False when the segments
    side scales with the network (enrichment joins: layer points probe a
    planet-sized network) -- the plain equi-join lets AQE pick the
    broadcast side from runtime sizes.
    """
    res = h3idx.pick_res(radius_m)
    m = F.lit(geo.M_PER_DEG)
    build = (
        segments.select(F.col(seg_id).alias("__e"), "ax", "ay", "bx", "by")
        .withColumn(
            "cell",
            F.explode(
                cover_segment_cells(
                    F.col("ax"), F.col("ay"), F.col("bx"), F.col("by"), res, dilate_k=1
                )
            ),
        )
        # projection constants are pure functions of the segment: compute
        # them ONCE on the (tiny) build side so the per-pair expression --
        # which Catalyst duplicates into the join condition -- stays small.
        # Same arithmetic as geo.point_segment_dist_m, bit-identical.
        .withColumn(
            "__kx",
            F.lit(float(flat_kx))
            if flat_kx is not None
            else F.cos(F.radians((F.col("ay") + F.col("by")) * 0.5)) * m,
        )
        .withColumn("__abx", (F.col("bx") - F.col("ax")) * F.col("__kx"))
        .withColumn("__aby", (F.col("by") - F.col("ay")) * m)
        .withColumn("__v", F.col("__abx") * F.col("__abx") + F.col("__aby") * F.col("__aby"))
    )
    probe = fan_out(
        points.select(point_id, lat, lon, *[c for c in carry if c not in (point_id, lat, lon)]),
        point_id,
    ).withColumn("cell", h3idx.cell_col(F.col(lat), F.col(lon), res))
    apx = (F.col(lon) - F.col("ax")) * F.col("__kx")
    apy = (F.col(lat) - F.col("ay")) * m
    u = apx * F.col("__abx") + apy * F.col("__aby")
    w = apx * apx + apy * apy
    d2 = (
        F.when(u <= 0, w)
        .when(u >= F.col("__v"), w - 2 * u + F.col("__v"))
        .otherwise(w - (u * u) / F.col("__v"))
    )
    d = F.sqrt(F.greatest(d2, F.lit(0.0)))
    build_side = _maybe_broadcast(build, broadcast_build)
    cand = (
        probe.join(build_side, "cell")
        .withColumn("__d", d)
        .filter(F.col("__d") <= F.lit(float(radius_m)))
    )
    carry_out = [c for c in carry if c != point_id]
    best = cand.groupBy(point_id).agg(
        F.min(
            F.struct(
                F.col("__d").alias("d"),
                F.col("__e").alias("be"),
                # carry columns are functions of the point -- identical on
                # every candidate row, so they ride the fold for free and
                # the caller skips a full re-join on point_id downstream
                *[F.col(c).alias(f"c_{c}") for c in carry_out],
            )
        ).alias("__best")
    )
    return best.select(
        F.col(point_id),
        F.col("__best.be").alias(seg_id),
        F.col("__best.d").alias("dist_m"),
        F.lit(1).alias("knn_rank"),
        *[F.col(f"__best.c_{c}").alias(c) for c in carry_out],
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
    from :func:`knn_join_segments` and join the two aggregates (both
    shuffles are on the same keys and combiner-friendly).
    """
    res = h3idx.pick_res(radius_m)
    build = segments.withColumn(
        "cell",
        F.explode(
            cover_segment_cells(F.col("ax"), F.col("ay"), F.col("bx"), F.col("by"), res, dilate_k=1)
        ),
    )
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


def _cascade(
    knn1: Callable[[DataFrame, float], DataFrame],
    points: DataFrame,
    radii: tuple[float, ...],
    point_id: str,
) -> DataFrame:
    """Escalating-radius kNN(1): ``knn1(remaining, r)`` at each radius in
    turn, materialized once per rung; only points still unmatched (a
    left-anti join on ``point_id``) go on to the next radius. Returns the
    union of all rungs."""
    remaining = points
    outs = []
    for r in radii:
        matched = knn1(remaining, r).localCheckpoint()
        outs.append(matched)
        remaining = remaining.join(matched.select(point_id), point_id, "left_anti")
    return reduce(DataFrame.unionByName, outs)


def knn_join_segments_adaptive(
    points: DataFrame,
    segments: DataFrame,
    radii: tuple[float, ...] = (25.0, 200.0),
    point_id: str = "point_id",
    seg_id: str = "edge_id",
    lat: str = "lat",
    lon: str = "lon",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Multi-resolution kNN snap: escalate unmatched points to wider radii.

    A single-pass kNN at a large radius forces coarse cells, and in dense
    areas the per-cell candidate product explodes (the urban-core skew the
    north star calls out). Instead: snap at the finest radius (fine cells,
    tiny candidate sets); only points with no match escalate to the next
    radius -- typically a few percent. The result is identical to a
    single-pass kNN at the largest radius because any match within radius
    r_i is by definition the global nearest within r_j > r_i as well.
    """
    return _cascade(
        lambda remaining, r: knn_join_segments(
            remaining, segments, radius_m=r,
            point_id=point_id, seg_id=seg_id, lat=lat, lon=lon, carry=carry,
        ),
        points, radii, point_id,
    )


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
    """Escalating-radius kNN(1) point snap (the point twin of
    :func:`knn_join_segments_adaptive`).

    A single pass at a large radius forces coarse cells; when the whole
    region spans only a handful of them the cell join degenerates to a
    cross product (measured: the 50k x 10k signal snap produced 4.1e8
    candidate pairs in 9 cells). Snapping at the finest radius first
    keeps the per-cell candidate product tiny, and only unmatched points
    escalate. Identical to the single-pass result: a match within radius
    r_i is by definition the global nearest within any r_j > r_i, and
    the (dist, id) tie-break is the same at every level.
    """
    return _cascade(
        lambda remaining, r: knn_join_points(
            remaining, build, radius_m=r,
            probe_id=probe_id, build_id=build_id,
            probe_lat=probe_lat, probe_lon=probe_lon,
            build_lat=build_lat, build_lon=build_lon,
        ),
        probe, radii, probe_id,
    )


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
