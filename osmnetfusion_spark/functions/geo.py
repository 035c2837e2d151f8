"""Geodesic / planar geometry kernels.

The reference computes geodesic lengths with ``pyproj.Geod(ellps='WGS84')``
(``p3_functions.py:130, 503, 596``) and bearings with ``np.angle`` over a
complex delta (``p3_simplification.py:329``). Neither pyproj nor shapely is
available here, and neither is needed: every kernel below is either a pure
Spark column expression (JVM codegen, also emittable as ANSI SQL for the
DuckDB oracles) or a vectorized numpy function for use inside pandas UDFs.

Distances use haversine on a sphere (R=6371008.8 m, the IUGG mean radius) --
within 0.5% of WGS84 geodesics at city scale, and *identical* between the
Spark and oracle sides, which is what correctness checking needs.

Point-to-segment distance uses a local equirectangular projection around the
point latitude: exact enough at <=1 km candidate radii, and crucially a pure
closed form, so the kNN refinement step stays inside whole-stage codegen
instead of a Python UDF.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_M = 6_371_008.8
M_PER_DEG = EARTH_RADIUS_M * np.pi / 180.0  # ~111194.93 m per degree


# ---------------------------------------------------------------- column API


def haversine_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in metres as a column expression."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2.0
    dlon = F.radians(lon2 - lon1) / 2.0
    a = F.sin(dlat) * F.sin(dlat) + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon) * F.sin(
        dlon
    )
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(a))


def haversine_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Identical haversine as an ANSI-SQL string (oracle parity)."""
    return (
        f"(2.0 * {EARTH_RADIUS_M} * asin(sqrt("
        f"pow(sin(radians(({lat2}) - ({lat1})) / 2), 2) "
        f"+ cos(radians({lat1})) * cos(radians({lat2})) "
        f"* pow(sin(radians(({lon2}) - ({lon1})) / 2), 2))))"
    )


def bearing_deg(ax: Column, ay: Column, bx: Column, by: Column) -> Column:
    """Heading of segment (ax,ay)->(bx,by) in degrees, x=lon, y=lat.

    Matches the reference's planar ``np.angle(complex(dx, dy))`` convention
    (``p3_functions.py:1323-1325``): counter-clockwise from east, (-180,180].
    """
    return F.degrees(F.atan2(by - ay, bx - ax))


def flat_kx_for_lat(lat_deg: float) -> float:
    """Fixed metres-per-degree-longitude constant for a reference latitude.

    Passing this as ``flat_kx`` to the distance kernels replaces the
    per-segment ``cos(radians(mid_lat))`` with one double literal, leaving
    only IEEE-exact operations (+, -, *, /, sqrt, compares) in the whole
    distance tree -- bit-identical between the JVM and any libm (DuckDB),
    which is what the driver's cross-engine value-hash gate needs.
    Appropriate for city-scale windows where the latitude variation's
    effect on kx is far below the radius tolerance.
    """
    import math

    return math.cos(math.radians(lat_deg)) * M_PER_DEG


def point_segment_dist_m(
    py_: Column, px: Column, ay: Column, ax: Column, by: Column, bx: Column,
    flat_kx: float | None = None,
) -> Column:
    """Distance (m) from point p to segment a-b; x=lon, y=lat.

    Local equirectangular projection around the SEGMENT midpoint latitude
    (pure function of the segment -> precomputable on a join's build side),
    piecewise u/v/w form (u = ap.ab, v = |ab|^2, w = |ap|^2):

        d^2 = w            if u <= 0         (before a)
            = w - 2u + v   if u >= v         (past b)
            = w - u^2/v    otherwise         (interior projection)

    Chosen over the clamped-t form because Catalyst inlines filter
    predicates into join conditions, duplicating the whole tree -- this
    form keeps the duplicated tree ~10x smaller. Exact same value as the
    clamped form. Degenerate segments (v=0) fall into the u<=0 branch.

    ``flat_kx``: optional fixed projection constant (see
    :func:`flat_kx_for_lat`) for bit-stable cross-engine comparisons.
    """
    if flat_kx is not None:
        kx = F.lit(float(flat_kx))
    else:
        kx = F.cos(F.radians((ay + by) * 0.5)) * F.lit(M_PER_DEG)
    ky = F.lit(M_PER_DEG)
    apx, apy = (px - ax) * kx, (py_ - ay) * ky
    abx, aby = (bx - ax) * kx, (by - ay) * ky
    u = apx * abx + apy * aby
    v = abx * abx + aby * aby
    w = apx * apx + apy * apy
    d2 = (
        F.when(u <= 0, w)
        .when(u >= v, w - 2 * u + v)
        .otherwise(w - (u * u) / v)
    )
    return F.sqrt(F.greatest(d2, F.lit(0.0)))


def point_segment_dist_sql(
    py_: str, px: str, ay: str, ax: str, by: str, bx: str,
    flat_kx: float | None = None,
) -> str:
    """The identical point-to-segment distance as an ANSI-SQL string."""
    if flat_kx is not None:
        kx = f"({float(flat_kx)!r})"
    else:
        kx = f"(cos(radians((({ay}) + ({by})) * 0.5)) * {M_PER_DEG})"
    ky = f"{M_PER_DEG}"
    apx, apy = f"((({px}) - ({ax})) * {kx})", f"((({py_}) - ({ay})) * {ky})"
    abx, aby = f"((({bx}) - ({ax})) * {kx})", f"((({by}) - ({ay})) * {ky})"
    u = f"({apx} * {abx} + {apy} * {aby})"
    v = f"({abx} * {abx} + {aby} * {aby})"
    w = f"({apx} * {apx} + {apy} * {apy})"
    d2 = (
        f"(CASE WHEN {u} <= 0 THEN {w} "
        f"WHEN {u} >= {v} THEN {w} - 2 * {u} + {v} "
        f"ELSE {w} - ({u} * {u}) / {v} END)"
    )
    return f"sqrt(greatest({d2}, 0.0))"


# ----------------------------------------------------------------- numpy API


def haversine_np(lat1, lon1, lat2, lon2) -> np.ndarray:
    lat1, lon1, lat2, lon2 = (np.asarray(a, dtype=np.float64) for a in (lat1, lon1, lat2, lon2))
    dlat = np.radians(lat2 - lat1) / 2.0
    dlon = np.radians(lon2 - lon1) / 2.0
    a = (
        np.sin(dlat) ** 2
        + np.cos(np.radians(lat1)) * np.cos(np.radians(lat2)) * np.sin(dlon) ** 2
    )
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(a))


def polyline_length_m(coords: np.ndarray) -> float:
    """Haversine length of an (n,2) [lon,lat] polyline."""
    c = np.asarray(coords, dtype=np.float64)
    if len(c) < 2:
        return 0.0
    return float(
        np.sum(haversine_np(c[:-1, 1], c[:-1, 0], c[1:, 1], c[1:, 0]))
    )


def point_segment_dist_np(py_, px, ay, ax, by, bx) -> np.ndarray:
    """Vectorized twin of :func:`point_segment_dist_m` for pandas UDFs."""
    py_, px, ay, ax, by, bx = (np.asarray(a, dtype=np.float64) for a in (py_, px, ay, ax, by, bx))
    kx = np.cos(np.radians((ay + by) * 0.5)) * M_PER_DEG
    ky = M_PER_DEG
    apx, apy = (px - ax) * kx, (py_ - ay) * ky
    abx, aby = (bx - ax) * kx, (by - ay) * ky
    u = apx * abx + apy * aby
    v = abx * abx + aby * aby
    w = apx * apx + apy * apy
    with np.errstate(invalid="ignore", divide="ignore"):
        interior = w - (u * u) / np.where(v > 0, v, 1.0)
    d2 = np.where(u <= 0, w, np.where(u >= v, w - 2 * u + v, interior))
    return np.sqrt(np.maximum(d2, 0.0))


def point_in_polygon_np(px: np.ndarray, py_: np.ndarray, poly: np.ndarray) -> np.ndarray:
    """Ray-casting point-in-polygon, vectorized over points.

    ``poly`` is an (n,2) [lon,lat] ring (closed or open). Replaces shapely
    ``within`` (reference ``p2_enrichData.py:111-116``); the north star names
    ray casting explicitly. Even-odd rule; boundary points may fall either
    side (synthetic fixtures avoid exact-boundary probes).
    """
    px = np.asarray(px, dtype=np.float64)
    py_ = np.asarray(py_, dtype=np.float64)
    poly = np.asarray(poly, dtype=np.float64)
    if len(poly) >= 2 and (poly[0] == poly[-1]).all():
        poly = poly[:-1]
    n = len(poly)
    inside = np.zeros(len(px), dtype=bool)
    x0, y0 = poly[:, 0], poly[:, 1]
    x1, y1 = np.roll(x0, -1), np.roll(y0, -1)
    for k in range(n):
        cond = (y0[k] > py_) != (y1[k] > py_)
        with np.errstate(invalid="ignore", divide="ignore"):
            xint = x0[k] + (py_ - y0[k]) / (y1[k] - y0[k] + 1e-300) * (x1[k] - x0[k])
        inside ^= cond & (px < xint)
    return inside
