"""Deterministic synthetic data generators (seed-pure, no I/O, no network).

Two families:

1. ``pages(spark, n)`` -- the Common-Crawl-style pages table from
   BASELINE.json's input_hint ``(url, warc_ts, html, text, lang)`` plus the
   derived geocode ``(lat, lon)``. Generated **distributively** from
   ``spark.range`` with pure column arithmetic (a Lehmer LCG), so the same
   generator scales from 1e3 test rows to cluster-scale without a driver
   bottleneck. ~20% of pages land in one "urban-core" hot cell to exercise
   skew handling; ~6% of urls appear twice with a newer ``warc_ts``
   (latest-wins dedupe); ``text`` is a pure function of the url so the
   byte-identity invariant is checkable end to end.

2. ``synthetic_city(scale)`` -- the OSM-side network + enrichment layers,
   mirroring the shapes the reference pipeline consumes (see FIXTURES.md):
   grid streets, a dual carriageway (parallel-edge merge -> UV/VU split), a
   curved road with >75 deg bends (splitCurves), a dense >50-node cluster
   (KMeans split path), a long edge crossing a foreign node buffer
   (splitEdgeIfInNodeBuffer), and a oneway street with cycleway='opposite'
   (improve_bike_edges row addition). Built with seeded numpy on the driver
   (network side is the small dimension; pages are the fact side).

Everything is a pure function of (seed, scale): re-running yields
byte-identical tables.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SEED = 42
# city window (Munich-ish)
LON0, LAT0 = 11.50, 48.10
GRID_STEP = 0.0012  # ~89 m lon / ~133 m lat per grid step

MOD = 2_147_483_647  # 2^31 - 1 (Lehmer modulus)
MULT = 48_271


def _lcg_col(seed_col, salt: int):
    """Deterministic uniform [0,1) from an integer column (xxhash64 mix)."""
    x = F.abs(F.xxhash64(seed_col, F.lit(salt))) % F.lit(MOD)
    return x.cast("double") / F.lit(float(MOD))


def pages(
    spark: SparkSession,
    n: int,
    city_scale: int = 1,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed deterministic pages table; see module docstring.

    ``city_scale`` aligns the geocode window with
    :func:`synthetic_city(scale)` so pages actually fall on the network.
    """
    span = (8 * max(int(city_scale), 1) - 1) * GRID_STEP
    # urban-core hot spot near the dense cluster, snapped to a res-10 cell
    # center so the skew concentrates in ONE cell (salting/AQE fixture)
    size10 = 1.0 / (1 << 10)
    hot_lon = (np.floor((LON0 + 2 * GRID_STEP + 180.0) / size10) + 0.5) * size10 - 180.0
    hot_lat = (np.floor((LAT0 + 2 * GRID_STEP + 90.0) / size10) + 0.5) * size10 - 90.0
    df = spark.range(0, n, 1, partitions or spark.sparkContext.defaultParallelism)
    pid = F.col("id")
    u1, u2, u3, u4 = (_lcg_col(pid, s) for s in (1, 2, 3, 4))

    # ~6% duplicated urls: page i with i%17==1 re-crawls url of page i-1
    base_id = F.when((pid % 17 == 1) & (pid > 0), pid - 1).otherwise(pid)
    url = F.concat(
        F.lit("https://example.test/"),
        (base_id % 97).cast("string"),
        F.lit("/page-"),
        base_id.cast("string"),
    )
    # crawl ts: base date + id-dependent offset; re-crawls are strictly newer
    warc_ts = F.to_timestamp(F.lit("2025-01-01 00:00:00")) + F.make_interval(
        secs=(base_id % 86_400).cast("double")
        + F.when(pid % 17 == 1, F.lit(90_000.0)).otherwise(F.lit(0.0))
    )
    text = F.concat(
        F.lit("Seite "),
        base_id.cast("string"),
        F.lit(" | synthetic web text about block "),
        (base_id % 97).cast("string"),
        F.lit(" äöü."),  # non-ASCII: byte-identity must survive
    )
    html = F.encode(
        F.concat(F.lit("<html><body><p>"), text, F.lit("</p></body></html>")), "UTF-8"
    )
    lang = (
        F.when(u3 < 0.55, "de")
        .when(u3 < 0.85, "en")
        .when(u3 < 0.93, "fr")
        .otherwise("it")
    )
    # geocode: 20% in the urban-core hot cell (~100 m box), rest across window
    hot = u4 < 0.20
    lat = F.when(hot, F.lit(float(hot_lat)) + (u1 - 0.5) * 0.0006).otherwise(
        F.lit(LAT0) + u1 * span
    )
    lon = F.when(hot, F.lit(float(hot_lon)) + (u2 - 0.5) * 0.0006).otherwise(
        F.lit(LON0) + u2 * span
    )
    return df.select(
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        html.alias("html"),
        text.alias("text"),
        lang.alias("lang"),
        lat.alias("lat"),
        lon.alias("lon"),
    )


#: License labels cycled by the snapshot generator (stable order).
LICENSES = ["all-rights-reserved", "cc-by", "cc-by-sa", "public-domain"]

#: First snapshot wall time; snapshots are spaced 18 h apart so the
#: page crawl window (2025-01-01 + up to ~2 days) straddles several.
SNAP_T0 = "2024-12-31 12:00:00"
SNAP_SPACING_H = 18


def license_snapshots(
    spark: SparkSession, n_sites: int = 97, partitions: int | None = None
) -> DataFrame:
    """Deterministic per-site license/robots snapshot history -- the
    build side of the as-of enrichment ("latest licence snapshot as of
    each page's warc_ts", VERDICT r4 #8).

    Site ``s`` gets up to 4 snapshots at ``SNAP_T0 + k*18h`` with
    ``license = LICENSES[(7*s + k) % 4]`` and ``robots_disallow =
    ((s + k) % 10 == 0)``. Sites with ``s % 13 == 7`` are missing the
    k=0 snapshot, so their earliest crawls precede every snapshot and
    must surface NULL license (the LEFT semantics of the as-of join);
    sites with ``s % 5 == 0`` freeze after k=0 (single-snapshot sites).
    Pure column expressions over ``spark.range`` -- no driver data.
    """
    df = spark.range(
        0, n_sites * 4, 1, partitions or spark.sparkContext.defaultParallelism
    )
    site = (F.col("id") / 4).cast("long")
    k = (F.col("id") % 4).cast("long")
    lic = None
    for i, name in enumerate(LICENSES):
        cond = F.pmod(site * 7 + k, F.lit(4)) == i
        lic = F.when(cond, F.lit(name)) if lic is None else lic.when(cond, F.lit(name))
    return (
        df.filter(~((site % 13 == 7) & (k == 0)))
        .filter(~((site % 5 == 0) & (k > 0)))
        .select(
            site.cast("string").alias("site"),
            (
                F.to_timestamp(F.lit(SNAP_T0))
                + F.make_interval(hours=(k * SNAP_SPACING_H).cast("int"))
            ).alias("snap_ts"),
            lic.alias("license"),
            ((site + k) % 10 == 0).alias("robots_disallow"),
        )
    )


# --------------------------------------------------------------------- city

EDGE_TAG_COLS = [
    "maxspeed", "lanes", "width", "bicycle", "foot", "sidewalk", "segregated",
    "surface", "smoothness", "lit", "incline", "crossing", "barrier", "access",
    "cycleway", "cycleway:left", "cycleway:right", "cycleway:both",
    "cycleway:left:lane", "cycleway:right:lane", "cycleway:left:oneway",
    "cycleway:right:oneway", "bicycle_road", "oneway:bicycle", "cyclestreet",
    "parking:lane:left", "parking:lane:right", "parking:lane:both",
    "public_transport",
]

NODE_TAG_COLS = [
    "highway", "crossing", "bicycle", "foot", "barrier", "lit", "width",
    "public_transport", "bicycle_parking",
]


def _rng(salt: int) -> np.random.Generator:
    return np.random.default_rng(SEED * 1_000_003 + salt)


def synthetic_city(scale: int = 1) -> dict[str, pd.DataFrame]:
    """Generate the OSM-side tables as pandas frames. scale k -> ~k*k grid."""
    g = 8 * max(int(scale), 1)  # grid side
    rng = _rng(g)

    # ---- nodes: grid + dense cluster + curve vertices
    ii, jj = np.meshgrid(np.arange(g), np.arange(g))
    ii, jj = ii.ravel(), jj.ravel()
    osmid = 1_000 + jj * g + ii
    x = LON0 + ii * GRID_STEP
    y = LAT0 + jj * GRID_STEP

    nodes = pd.DataFrame({"osmid": osmid, "x": x, "y": y})
    nodes["highway"] = np.where(
        (ii % 4 == 0) & (jj % 4 == 0), "traffic_signals",
        np.where((ii + jj) % 7 == 0, "crossing", ""),
    )

    # dense cluster: 56 extra nodes in a ~15 m blob near grid node (2,2)
    n_dense = 56
    cx, cy = LON0 + 2 * GRID_STEP, LAT0 + 2 * GRID_STEP
    dense_id = 900_000 + np.arange(n_dense)
    dense = pd.DataFrame(
        {
            "osmid": dense_id,
            "x": cx + (rng.random(n_dense) - 0.5) * 0.0003,
            "y": cy + (rng.random(n_dense) - 0.5) * 0.0003,
            "highway": "",
        }
    )
    nodes = pd.concat([nodes, dense], ignore_index=True)
    # osmid -> (x, y): an edge looks up its end nodes in O(1)
    xy = dict(zip(nodes.osmid.tolist(), zip(nodes.x.tolist(), nodes.y.tolist())))

    # ---- edges
    rows: list[dict] = []

    def hw_for(i0, j0, i1, j1):
        if j0 == j1 and j0 % 4 == 0:
            return "secondary"
        if i0 == i1 and i0 % 4 == 0:
            return "tertiary"
        return "residential"

    def add_edge(u, v, hwy, *, oneway=False, key=0, coords=None, **tags):
        a, b = xy[u], xy[v]  # both ends must be nodes
        if coords is None:
            coords = [a, b]
        row = {
            "u": int(u), "v": int(v), "key": int(key),
            "osmid": int(100_000 + len(rows)),
            "highway": hwy, "oneway": bool(oneway), "reversed": False,
            "geometry": [[float(a), float(b)] for a, b in coords],
        }
        for c in EDGE_TAG_COLS:
            row[c] = ""
        row.update(tags)
        rows.append(row)

    nid = lambda i, j: 1_000 + j * g + i  # noqa: E731

    ru = rng.random(g * g * 4)
    k = 0
    for j in range(g):
        for i in range(g):
            for di, dj in ((1, 0), (0, 1)):
                i1, j1 = i + di, j + dj
                if i1 >= g or j1 >= g:
                    continue
                hwy = hw_for(i, j, i1, j1)
                tags = {}
                r = ru[k % len(ru)]
                k += 1
                if hwy == "secondary":
                    tags = {"maxspeed": "50", "lanes": "2", "lit": "yes",
                            "sidewalk": "both", "parking:lane:right": "parallel"}
                elif hwy == "tertiary":
                    tags = {"maxspeed": "30" if r < 0.5 else "['30', '50']",
                            "lanes": "1", "surface": "asphalt"}
                else:
                    if r < 0.2:
                        tags = {"maxspeed": "30", "surface": "asphalt",
                                "cycleway:right": "lane" if r < 0.1 else ""}
                    if 0.2 <= r < 0.25:
                        tags = {"width": "1.35;3.6"}
                add_edge(nid(i, j), nid(i1, j1), hwy, **tags)
                add_edge(nid(i1, j1), nid(i, j), hwy, **tags)

    # motif: dual carriageway along row j=4 between i=1..5 (oneway pairs)
    for i in range(1, 5):
        add_edge(nid(i, 4), nid(i + 1, 4), "primary", oneway=True, key=1,
                 maxspeed="60", lanes="2")
        add_edge(nid(i + 1, 4), nid(i, 4), "primary", oneway=True, key=1,
                 coords=[
                     [LON0 + (i + 1) * GRID_STEP, LAT0 + 4 * GRID_STEP + 0.00012],
                     [LON0 + i * GRID_STEP, LAT0 + 4 * GRID_STEP + 0.00012],
                 ],
                 maxspeed="60", lanes="2")

    # motif: oneway street with contraflow bike lane (cycleway='opposite')
    add_edge(nid(1, 1), nid(2, 1), "residential", oneway=True, key=2,
             cycleway="opposite", maxspeed="30")

    # motif: curved road with sharp bends from the NE corner (splitCurves)
    c0x, c0y = LON0 + (g - 1) * GRID_STEP, LAT0 + (g - 1) * GRID_STEP
    curve = [
        [c0x, c0y],
        [c0x + 0.0010, c0y + 0.0001],
        [c0x + 0.0011, c0y + 0.0011],   # ~80 deg bend
        [c0x + 0.0001, c0y + 0.0013],   # another sharp bend
        [c0x + 0.0000, c0y + 0.0023],
    ]
    curve_end = 800_001
    nodes = pd.concat(
        [nodes, pd.DataFrame({"osmid": [curve_end], "x": [curve[-1][0]],
                              "y": [curve[-1][1]], "highway": [""]})],
        ignore_index=True,
    )
    xy[curve_end] = tuple(curve[-1])
    add_edge(nid(g - 1, g - 1), curve_end, "residential", coords=curve)

    # motif: long chord passing through the buffer of big crossing (4,4)
    # without either endpoint inside it
    add_edge(nid(3, 3), nid(5, 5), "service",
             coords=[[LON0 + 3 * GRID_STEP, LAT0 + 3 * GRID_STEP + 0.00005],
                     [LON0 + 4 * GRID_STEP, LAT0 + 4 * GRID_STEP + 0.00005],
                     [LON0 + 5 * GRID_STEP, LAT0 + 5 * GRID_STEP + 0.00005]])

    # dense-cluster service spokes
    for t, did in enumerate(dense_id):
        add_edge(int(did), nid(2, 2), "service", key=t % 3)

    edges = pd.DataFrame(rows)
    for c in NODE_TAG_COLS:
        if c not in nodes.columns:
            nodes[c] = ""
    nodes["street_count"] = (
        pd.concat([edges.u, edges.v]).value_counts().reindex(nodes.osmid).fillna(0)
        .astype(int).to_numpy()
    )

    # ---- enrichment layers
    def rect(lon_c, lat_c, w, h):
        return [
            [lon_c - w, lat_c - h], [lon_c + w, lat_c - h],
            [lon_c + w, lat_c + h], [lon_c - w, lat_c + h],
            [lon_c - w, lat_c - h],
        ]

    def layer(kind: str, salt: int, n_poly: int, n_pt: int) -> pd.DataFrame:
        r = _rng(salt)
        recs = []
        for p in range(n_poly):
            lon_c = LON0 + r.random() * (g - 1) * GRID_STEP
            lat_c = LAT0 + r.random() * (g - 1) * GRID_STEP
            recs.append({"layer_id": p, "geom_type": "Polygon", kind: "yes",
                         "geometry": rect(lon_c, lat_c, 0.0009, 0.0007)})
        for p in range(n_pt):
            lon_c = LON0 + r.random() * (g - 1) * GRID_STEP
            lat_c = LAT0 + r.random() * (g - 1) * GRID_STEP
            recs.append({"layer_id": n_poly + p, "geom_type": "Point", kind: "yes",
                         "geometry": [[lon_c, lat_c]]})
        return pd.DataFrame(recs)

    landuse_green = layer("leisure", 11, 3 * scale, 20 * scale)
    landuse_retail = layer("shop", 12, 2 * scale, 12 * scale)
    landuse_building = layer("building", 13, 4 * scale, 0)

    r = _rng(21)
    n_am = 10 * scale
    bike_amenities = pd.DataFrame({
        "amenity_id": np.arange(n_am),
        "amenity": r.choice(
            ["bicycle_parking", "bicycle_repair_station", "bicycle_rental"], n_am
        ),
        "capacity": r.integers(2, 40, n_am).astype(str),
        "lon": LON0 + r.random(n_am) * (g - 1) * GRID_STEP,
        "lat": LAT0 + r.random(n_am) * (g - 1) * GRID_STEP,
    })

    sig = nodes[nodes.highway == "traffic_signals"]
    r = _rng(22)
    traffic_signals = pd.DataFrame({
        "id": ["node/" + str(3_000_000 + t) for t in range(len(sig))],
        "highway": "traffic_signals",
        "crossing": r.choice(["traffic_signals", "marked", ""], len(sig)),
        "lon": sig.x.to_numpy() + (r.random(len(sig)) - 0.5) * 0.0001,
        "lat": sig.y.to_numpy() + (r.random(len(sig)) - 0.5) * 0.0001,
    })

    r = _rng(23)
    stops = []
    for rel in range(6 * scale):
        n_stops = 2 + int(r.integers(0, 5))  # some refs occur <=3, some >3
        ref = 5_000_000 + rel
        for s in range(n_stops):
            stops.append({
                "relation_id": 7_000_000 + rel,
                "mode": ["bus", "tram", "trolleybus"][rel % 3],
                "stop_type": "platform" if s % 2 else "stop",
                "member_ref": ref,
                "name": f"Stop {rel}-{s}",
                "lon": LON0 + r.random() * (g - 1) * GRID_STEP,
                "lat": LAT0 + float(r.integers(0, (g + 3) // 4) * 4) * GRID_STEP
                + (r.random() - 0.5) * 0.0002,
            })
    pt_stops = pd.DataFrame(stops)

    elev = nodes[["osmid", "x", "y"]].reset_index()
    elevations = pd.DataFrame({
        "idx": elev.index.astype(np.int64),
        "osmid": elev.osmid,
        "elevation": 500.0
        + 40.0 * np.sin((elev.x - LON0) * 300.0)
        + 25.0 * np.cos((elev.y - LAT0) * 400.0),
    })

    widths = edges.loc[edges.index % 11 == 0, ["osmid"]].copy()
    widths["width_cycle_path"] = 1.2 + (widths.osmid % 7) * 0.25

    return {
        "nodes": nodes.reset_index(drop=True),
        "edges": edges,
        "landuse_green": landuse_green,
        "landuse_retail": landuse_retail,
        "landuse_building": landuse_building,
        "bike_amenities": bike_amenities,
        "traffic_signals": traffic_signals,
        "pt_stops": pt_stops,
        "elevations": elevations,
        "cycle_path_widths": widths.reset_index(drop=True),
    }


def city_to_spark(spark: SparkSession, city: dict[str, pd.DataFrame]) -> dict[str, DataFrame]:
    """Materialize the city tables as Spark DataFrames."""
    return {name: spark.createDataFrame(pdf) for name, pdf in city.items()}


def text_sha256(df: DataFrame, url: str = "url", text: str = "text") -> DataFrame:
    """Per-url sha256 manifest of the text column (byte-identity invariant)."""
    return df.select(
        F.col(url).alias("url"),
        F.sha2(F.encode(F.col(text), "UTF-8"), 256).alias("text_sha256"),
    )
