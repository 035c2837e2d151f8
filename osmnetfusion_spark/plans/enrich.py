"""Enrichment pipeline (reference p2_enrichData.py) as DataFrame transforms.

Every operator keeps the reference's *semantics* (cited per function) while
replacing its row loops and STRtree probes with cell-local joins and pure
column expressions. Determinism notes: anywhere the reference's output
depends on pandas iteration order (string concatenations of matched
feature names), we impose an explicit sort key so N-vs-4N-parallelism runs
are byte-identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import geo
from ..operators import spatial

M_PER_DEG = geo.M_PER_DEG


def polyline_length_col(geom: Column) -> Column:
    """Haversine length (m) of [[lon,lat],...] -- pure column fold."""
    pair_d = F.transform(
        geom,
        lambda c, i: F.when(
            i < F.size(geom) - 1,
            2.0
            * geo.EARTH_RADIUS_M
            * F.asin(
                F.sqrt(
                    F.pow(F.sin(F.radians(F.try_element_at(geom, i + 2)[1] - c[1]) / 2), 2)
                    + F.cos(F.radians(c[1]))
                    * F.cos(F.radians(F.try_element_at(geom, i + 2)[1]))
                    * F.pow(
                        F.sin(F.radians(F.try_element_at(geom, i + 2)[0] - c[0]) / 2), 2
                    )
                )
            ),
        ).otherwise(F.lit(0.0)),
    )
    return F.aggregate(pair_d, F.lit(0.0), lambda a, d: a + d)


def _truthy(c: Column) -> Column:
    return c.isNotNull() & (c.cast("string") != "") & (c.cast("string") != "nan")


def _contains(df: DataFrame, col: str, sub: str) -> Column:
    """Reference contains_condition (p2_enrichData.py:237-238): schema-
    guarded substring/regex match; missing column -> all-False."""
    if col not in df.columns:
        return F.lit(False)
    c = F.col(f"`{col}`").cast("string")
    if "|" in sub:
        return c.isNotNull() & c.rlike(sub)
    return c.isNotNull() & c.contains(sub)


# --------------------------------------------------------------- J1/J2/J3


def landuse_ratio_all(
    edges: DataFrame,
    layers: list[tuple[str, DataFrame]],
    point_buffer_m: float = 10.0,
    poly_buffer_m: float = 5.0,
) -> DataFrame:
    """Green/retail/building ratio per edge (p2_enrichData.py:61-156), all
    land-use kinds in ONE pass. For each ``(kind, layer)``:

    - point part: layer points within ``point_buffer_m`` of the edge
      (reference: point-in-10m-edge-buffer) -> count; ratio_point =
      min(count*5/length, 1)     (:106-116)
    - polygon part: intersection length of the edge with each layer
      polygon dilated by ``poly_buffer_m`` -> ratio_poly = min(sum, 1)
      (:119-144; rectangle layers dilate exactly)
    - combined ratio = min(point + poly, 1)  (:146-151)

    Adds columns {kind}_points, {kind}_ratio_point, {kind}_ratio_poly,
    {kind}_ratio. ``edges`` must carry edge_id, length, geometry.

    The reference runs the kinds sequentially (p2_enrichData.py:724-726);
    each pass re-scans and re-shuffles the full edges table. Here the
    (small) layer tables are unioned under a composite id, and one segment
    explode, one radius join and one intersection join serve every kind;
    per-kind aggregates are grouped independently and pivoted back out, so
    each kind's result equals a pass over its layer alone.
    """
    kind_base = 1_000_000_000
    kinds = [k for k, _ in layers]
    uni = None
    for i, (_, df) in enumerate(layers):
        d = df.select(
            (F.lit(i * kind_base) + F.col("layer_id")).alias("layer_id"),
            "geom_type",
            "geometry",
        )
        uni = d if uni is None else uni.unionByName(d)

    segs = spatial.explode_segments(edges.select("edge_id", "geometry")).select(
        "edge_id", "seg_idx", "ax", "ay", "bx", "by"
    )
    kind_i = (F.col("layer_id") / kind_base).cast("long")

    pts = uni.filter(F.col("geom_type") == "Point").select(
        "layer_id",
        F.element_at(F.col("geometry"), 1)[1].alias("lat"),
        F.element_at(F.col("geometry"), 1)[0].alias("lon"),
    )
    # Membership-only: radius join has no per-point ranking window, so
    # dense cells don't pay a row_number over every in-radius candidate
    # (same redesign as add_bicycle_parking, round 2).
    near = spatial.radius_join_segments(
        pts, segs, radius_m=point_buffer_m,
        point_id="layer_id", seg_id="edge_id", broadcast_build=False,
    )
    pt_counts = (
        near.withColumn("__ki", kind_i)
        .groupBy("edge_id")
        .pivot("__ki", list(range(len(kinds))))
        .count()
    )
    pt_counts = pt_counts.select(
        "edge_id",
        *[F.col(f"`{i}`").alias(f"__pts_{k}") for i, k in enumerate(kinds)],
    )

    polys = uni.filter(F.col("geom_type").isin("Polygon", "MultiPolygon")).select(
        "layer_id", _dilate_rect(F.col("geometry"), poly_buffer_m).alias("geometry")
    )
    isect = spatial.intersection_length_join(
        segs, polys, seg_id="edge_id", poly_id="layer_id"
    )
    poly_ratio = (
        isect.withColumn("__ki", kind_i)
        .join(edges.select("edge_id", "length"), "edge_id")
        .groupBy("edge_id", "__ki")
        .agg(F.least(F.sum(F.col("isect_len_m") / F.col("length")), F.lit(1.0)).alias("__r"))
        .groupBy("edge_id")
        .pivot("__ki", list(range(len(kinds))))
        .agg(F.first("__r"))
    )
    poly_ratio = poly_ratio.select(
        "edge_id",
        *[F.col(f"`{i}`").alias(f"__poly_{k}") for i, k in enumerate(kinds)],
    )

    out = edges.join(pt_counts, "edge_id", "left").join(poly_ratio, "edge_id", "left")
    for k in kinds:
        out = (
            out.withColumn(f"{k}_points", F.coalesce(f"__pts_{k}", F.lit(0)).cast("double"))
            .withColumn(
                f"{k}_ratio_point",
                F.least(F.col(f"{k}_points") * 5.0 / F.col("length"), F.lit(1.0)),
            )
            .withColumn(f"{k}_ratio_poly", F.coalesce(F.col(f"__poly_{k}"), F.lit(0.0)))
            .withColumn(
                f"{k}_ratio",
                F.least(F.col(f"{k}_ratio_point") + F.col(f"{k}_ratio_poly"), F.lit(1.0)),
            )
            .drop(f"__pts_{k}", f"__poly_{k}")
        )
    return out


def _dilate_rect(geom: Column, buffer_m: float) -> Column:
    """Dilate an axis-aligned ring by ``buffer_m`` (exact for rectangles,
    bbox-approximation otherwise -- the synthetic layers are rectangles)."""
    dlat = buffer_m / M_PER_DEG
    mnx = F.aggregate(geom, F.lit(1e9), lambda a, c: F.least(a, c[0]))
    mxx = F.aggregate(geom, F.lit(-1e9), lambda a, c: F.greatest(a, c[0]))
    mny = F.aggregate(geom, F.lit(1e9), lambda a, c: F.least(a, c[1]))
    mxy = F.aggregate(geom, F.lit(-1e9), lambda a, c: F.greatest(a, c[1]))
    dlon = F.lit(buffer_m) / (F.cos(F.radians((mny + mxy) / 2)) * M_PER_DEG)
    return F.array(
        F.array(mnx - dlon, mny - dlat),
        F.array(mxx + dlon, mny - dlat),
        F.array(mxx + dlon, mxy + dlat),
        F.array(mnx - dlon, mxy + dlat),
        F.array(mnx - dlon, mny - dlat),
    )


# ------------------------------------------------------------------- P4/J4


def improve_bike_edges(edges: DataFrame) -> DataFrame:
    """bike_access labeling + contraflow edge addition (p2:158-211).

    1. bike_access = 'no' where highway contains trunk, or bicycle contains
       use_sidepath/no; else 'yes'  (:168-176)
    2. oneway edges with oneway:bicycle~no or cycleway~opposite: if no
       (v,u) edge exists, append the swapped row with
       bike_access='bike_only' and reversed flipped (left-anti self-join);
       if it exists, set its bike_access='yes' (semi-join)  (:179-208)
    """
    no_mask = (
        _contains(edges, "highway", "trunk")
        | _contains(edges, "bicycle", "use_sidepath")
        | _contains(edges, "bicycle", "no")
    )
    e = edges.withColumn(
        "bike_access", F.when(no_mask, F.lit("no")).otherwise(F.lit("yes"))
    )

    to_add_mask = (F.col("oneway") == True) & (  # noqa: E712
        _contains(e, "oneway:bicycle", "no") | _contains(e, "cycleway", "opposite")
    )
    cand = e.filter(to_add_mask)
    pairs = e.select(F.col("u").alias("__pu"), F.col("v").alias("__pv")).distinct()

    # branch A: no opposite edge exists -> append swapped bike_only row
    missing = cand.join(
        pairs,
        (cand.u == pairs.__pv) & (cand.v == pairs.__pu),
        "left_anti",
    )
    added = (
        missing.withColumn("__tmp_u", F.col("u"))
        .withColumn("u", F.col("v"))
        .withColumn("v", F.col("__tmp_u"))
        .drop("__tmp_u")
        .withColumn("bike_access", F.lit("bike_only"))
        .withColumn("reversed", ~F.col("reversed"))
        .withColumn("geometry", F.reverse(F.col("geometry")))
    )

    # branch B: opposite edge exists -> its bike_access becomes 'yes'
    upd_keys = (
        cand.join(pairs, (cand.u == pairs.__pv) & (cand.v == pairs.__pu), "left_semi")
        .select(F.col("v").alias("__ku"), F.col("u").alias("__kv"))
        .distinct()
    )
    e = (
        e.join(upd_keys, (e.u == F.col("__ku")) & (e.v == F.col("__kv")), "left")
        .withColumn(
            "bike_access",
            F.when(F.col("__ku").isNotNull(), F.lit("yes")).otherwise(F.col("bike_access")),
        )
        .drop("__ku", "__kv")
    )
    return e.unionByName(added)


# --------------------------------------------------------------------- P5


_CYCLEWAY_BRANCHES = "advisory_lane exclusive_lane shared_lane bicycle_road one_track two_track track_or_lane fac_path pedestrian".split()


def add_cycle_paths(edges: DataFrame) -> DataFrame:
    """cycleway_category classifier (p2:213-324): ordered boolean cascade,
    later branches overwrite earlier ones.

    Faithfulness note: the reference's final mixed-traffic fallback
    compares the string column against integer 0 (:315-317), which is
    always False in pandas -- so uncategorized edges keep ''. We reproduce
    that actual behavior, not the comment's intent.
    """
    e = edges
    adv = (
        _contains(e, "cycleway", "lane")
        | _contains(e, "cycleway", "opposite")
        | _contains(e, "cycleway:lane", "advisory")
        | _contains(e, "cycleway:left:lane", "advisory")
        | _contains(e, "cycleway:right:lane", "advisory")
    )
    exc = (
        (_contains(e, "cycleway", "lane") & _contains(e, "bicycle", "designated"))
        | _contains(e, "cycleway:lane", "exclusive")
        | _contains(e, "cycleway:left:lane", "exclusive")
        | (_contains(e, "cycleway:left", "lane") & _contains(e, "cycleway:left:bicycle", "designated"))
        | (_contains(e, "cycleway:both", "lane") & _contains(e, "cycleway:both:bicycle", "designated"))
        | (_contains(e, "cycleway:right", "lane") & _contains(e, "cycleway:right:bicycle", "designated"))
        | _contains(e, "cycleway:right:lane", "exclusive")
    )
    shared = _contains(e, "cycleway", "shared_busway")
    bikeroad = _contains(e, "bicycle_road", "yes")
    one_track = (
        _contains(e, "highway", "cycleway")
        | _contains(e, "cycleway", "track")
        | _contains(e, "cycleway:left", "track")
        | _contains(e, "cycleway:right", "track")
        | _contains(e, "cycleway:both", "track")
        | _contains(e, "bicycle:backward", "track")
        | _contains(e, "bicycle:forward", "track")
        | _contains(e, "cycleway:right:oneway", "yes|-1")
        | _contains(e, "cycleway:left:oneway", "yes|-1")
        | (
            _contains(e, "highway", "path")
            & _contains(e, "bicycle", "designated")
            & _contains(e, "segregated", "yes")
        )
    )
    not_oneway = F.col("oneway") == False  # noqa: E712
    two_track = (
        (_contains(e, "cycleway:right", "track") & (not_oneway | _contains(e, "cycleway:right:oneway", "no")))
        | (_contains(e, "cycleway:left", "track") & (not_oneway | _contains(e, "cycleway:left:oneway", "no")))
        | _contains(e, "cycleway:right:oneway", "no")
        | _contains(e, "cycleway:left:oneway", "no")
        | (_contains(e, "highway", "cycleway") & not_oneway)
    )
    track_or_lane = (adv | exc) & (one_track | two_track)
    fac = (
        (
            _contains(e, "highway", "path")
            & _contains(e, "bicycle", "designated")
            & _contains(e, "segregated", "no")
        )
        | (_contains(e, "highway", "footway") & _contains(e, "bicycle", "yes"))
    )
    ped = _contains(e, "highway", "pedestrian") & _contains(e, "bicycle", "yes")

    # assignment order (later overwrites): adv, exc, shared, bikeroad,
    # one_track, two_track, track_or_lane, fac, ped
    cat = (
        F.when(ped, "pedestrian_street")
        .when(fac, "foot_and_cycle_path")
        .when(track_or_lane, "track_or_lane")
        .when(two_track, "two_direction_cycle_path")
        .when(one_track, "one_direction_cycle_path")
        .when(bikeroad, "bicycle_road")
        .when(shared, "shared_lane")
        .when(exc, "exclusive_lane")
        .when(adv, "advisory_lane")
        .otherwise("")
    )
    return e.withColumn("cycleway_category", cat)


# --------------------------------------------------------------------- P6


def merge_similar_columns(df: DataFrame, column1: str, column2: str, new_name: str | None = None) -> DataFrame:
    """Coalesce twin columns, column2 wins when truthy (p2:326-355)."""
    new_name = new_name or column1
    c1 = F.col(f"`{column1}`") if column1 in df.columns else F.lit("")
    c2 = F.col(f"`{column2}`") if column2 in df.columns else F.lit("")
    merged = F.when(_truthy(c2), c2).when(_truthy(c1), c1).otherwise(F.lit(""))
    out = df.withColumn("__merged", merged)
    for c in (column1, column2):
        if c in out.columns:
            out = out.drop(c)
    return out.withColumnRenamed("__merged", new_name)


# --------------------------------------------------------------------- J8


def add_gradient(nodes: DataFrame, edges: DataFrame, elevations: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Elevation join + gradient/severity (p2:357-419).

    nodes x elevations on osmid (broadcast); per edge |h_u - h_v|;
    gradient = round(h/len, 4); severity = round(h^2/len, 4).
    """
    n = nodes.join(
        F.broadcast(elevations.select("osmid", "elevation")), "osmid", "left"
    )
    elev = n.select(F.col("osmid").alias("__nid"), F.col("elevation").alias("__h"))
    e = (
        edges.join(F.broadcast(elev.withColumnRenamed("__h", "__hu")), edges.u == F.col("__nid"), "left")
        .drop("__nid")
        .join(F.broadcast(elev.withColumnRenamed("__h", "__hv")), edges.v == F.col("__nid"), "left")
        .drop("__nid")
        .withColumn("height_difference", F.abs(F.col("__hu") - F.col("__hv")))
        .withColumn("gradient", F.round(F.col("height_difference") / F.col("length"), 4))
        .withColumn("severity", F.round(F.pow(F.col("height_difference"), 2) / F.col("length"), 4))
        .drop("__hu", "__hv")
    )
    return n, e


# --------------------------------------------------------------------- J5


def add_traffic_lights(nodes: DataFrame, signals: DataFrame) -> DataFrame:
    """kNN(1) snap signals -> nearest node <=20 m (p2:421-466).

    Self-matches (signal osmid == node osmid) are dropped before snapping
    (:456-459). Matched signal ids are comma-joined per node in ascending
    signal-id order (the reference's join order is pandas-iteration-
    dependent; we pin a total order for determinism).
    """
    sig = signals.withColumn("sig_osmid", F.split(F.col("id"), "/").getItem(1).cast("long"))
    snapped = spatial.knn_join_points(
        sig.select("sig_osmid", "lat", "lon"),
        nodes.select(F.col("osmid").alias("node_osmid"), F.col("y").alias("lat"), F.col("x").alias("lon")),
        radius_m=20.0,
        probe_id="sig_osmid",
        build_id="node_osmid",
    ).filter(F.col("sig_osmid") != F.col("node_osmid"))
    per_node = snapped.groupBy("node_osmid").agg(
        F.concat_ws(",", F.array_sort(F.collect_list(F.col("sig_osmid").cast("string")))).alias(
            "traffic_signals"
        )
    )
    return (
        nodes.join(per_node, nodes.osmid == per_node.node_osmid, "left")
        .drop("node_osmid")
        .withColumn("traffic_signals", F.coalesce("traffic_signals", F.lit("")))
    )


# --------------------------------------------------------------------- J9


def add_cycle_path_width(edges: DataFrame, widths: DataFrame) -> DataFrame:
    """Width CSV join: per-osmid min, broadcast left merge (p2:468-493)."""
    w = widths.groupBy("osmid").agg(F.min("width_cycle_path").alias("width_cycle_path"))
    return edges.join(F.broadcast(w), "osmid", "left")


# --------------------------------------------------------------------- J6


def add_bicycle_parking(edges: DataFrame, amenities: DataFrame) -> DataFrame:
    """Bike-amenity snap (p2:495-557): one distance join does both labels.

    - amenity_on: each amenity's single nearest bike-accessible edge
    - amenity_nearby: every bike-accessible edge within 200 m
    Amenity names are comma-joined per edge ordered by amenity_id
    (determinism; the reference's order is its iteration order).
    """
    bike_edges = edges.filter(F.col("bike_access") == "yes")
    segs = spatial.explode_segments(bike_edges.select("edge_id", "geometry")).select(
        "edge_id", "seg_idx", "ax", "ay", "bx", "by"
    )
    pts = amenities.select("amenity_id", "lat", "lon")
    # dedicated radius membership (no per-amenity ranking window over every
    # in-radius candidate -- dense cells would pay it for nothing) + the
    # nearest flag from the broadcast-index kNN(1) kernel, which carries
    # the amenity name itself
    near = spatial.radius_join_segments(
        pts, segs, radius_m=200.0,
        point_id="amenity_id", seg_id="edge_id", broadcast_build=False,
    ).join(amenities.select("amenity_id", "amenity"), "amenity_id")
    nearest = spatial.knn_join_segments(
        amenities, segs, radii=(200.0,),
        point_id="amenity_id", seg_id="edge_id", carry=("amenity",),
    )

    def names(alias: str) -> Column:
        return F.concat_ws(
            ", ",
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("amenity_id"), F.col("amenity")))),
                lambda s: s["amenity"],
            ),
        ).alias(alias)

    # both per-edge lists are hash-partitioned on edge_id, so they meet
    # without another exchange and reach the edges in one join
    per_edge = near.groupBy("edge_id").agg(names("amenity_nearby")).join(
        nearest.groupBy("edge_id").agg(names("amenity_on")), "edge_id", "full"
    )
    return (
        edges.join(per_edge, "edge_id", "left")
        .withColumn("amenity_nearby", F.coalesce("amenity_nearby", F.lit("")))
        .withColumn("amenity_on", F.coalesce("amenity_on", F.lit("")))
    )


# --------------------------------------------------------------------- J7


CAR_HIGHWAYS = ["residential", "service", "tertiary", "secondary", "primary", "trunk", "motorway"]


def add_pt_stops(edges: DataFrame, stops: DataFrame) -> DataFrame:
    """PT-stop snap to nearest car-accessible edge <=30 m (p2:559-602)."""
    subset = edges.filter(F.col("highway").isin(CAR_HIGHWAYS))
    segs = spatial.explode_segments(subset.select("edge_id", "geometry")).select(
        "edge_id", "seg_idx", "ax", "ay", "bx", "by"
    )
    stops_k = stops.select(
        F.concat_ws("/", "member_ref", "name").alias("stop_id"), "member_ref", "name", "lat", "lon"
    ).dropDuplicates(["stop_id"])
    snapped = spatial.knn_join_segments(
        stops_k, segs, radii=(30.0,), point_id="stop_id", seg_id="edge_id", carry=("name",),
    )
    per_edge = snapped.groupBy("edge_id").agg(
        F.lit(1).alias("pt_stop_on"),
        F.count(F.lit(1)).alias("pt_stop_count"),
        F.concat_ws(", ", F.array_sort(F.collect_list("name"))).alias("pt_stop_routes"),
    )
    return (
        edges.join(per_edge, "edge_id", "left")
        .withColumn("pt_stop_on", F.coalesce("pt_stop_on", F.lit(0)))
        .withColumn("pt_stop_count", F.coalesce("pt_stop_count", F.lit(0)))
        .withColumn("pt_stop_routes", F.coalesce("pt_stop_routes", F.lit("")))
    )


# -------------------------------------------------------------------- J10


def update_idxs(nodes: DataFrame, edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Re-densify ids (p2:604-652): nodes get positional ids (dense index
    over osmid asc -- the reference uses load order, which *is* osmid-
    sorted for osmnx frames), edges remap u/v and take positional osmid.

    Positional numbering uses the distributed dense_index (range-partition
    + offset) -- a bare ``row_number() OVER (ORDER BY ...)`` would pull the
    whole table through one task at planet scale."""
    from ..operators.indexing import dense_index

    n = (
        dense_index(nodes, ["osmid"], out_col="new_node_idx")
        .withColumnRenamed("osmid", "old_osmid")
        .withColumnRenamed("new_node_idx", "osmid")
    )
    idmap = F.broadcast(n.select(F.col("old_osmid").alias("__old"), F.col("osmid").alias("__new")))
    e = (
        edges.join(idmap, edges.u == F.col("__old"), "left")
        .withColumn("new_u", F.col("__new")).drop("__old", "__new")
        .join(idmap, edges.v == F.col("__old"), "left")
        .withColumn("new_v", F.col("__new")).drop("__old", "__new")
    )
    e = (
        dense_index(e, ["u", "v", "key", "edge_id"], out_col="new_edge_idx")
        .withColumnRenamed("u", "old_u")
        .withColumnRenamed("v", "old_v")
        .withColumnRenamed("osmid", "old_osmid")
        .withColumnRenamed("new_u", "u")
        .withColumnRenamed("new_v", "v")
        .withColumnRenamed("new_edge_idx", "osmid")
    )
    return n, e
