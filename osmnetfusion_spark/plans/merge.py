"""Simplification steps 10-13: node merge, parallel-edge merge, assembly.

The reference folds merged groups into Node/Link/AnEdge/WalkEdge/
BicycleEdge/MotorizedEdge objects (p3_functions.py:1412-2152) inside a
greedy loop (:654-790). Both folds are *per-group* (cluster id; unordered
uv pair) -- the reference's own mp.Pool partitions step 11 by uv-pair sum
(:913-922), proving the group is the shuffle key. Here both folds run
through ``groupedmap.grouped_map_batched`` over that exact key, as array
folds over the column slices of one group (no per-group pandas frame),
with the group-internal greedy order made explicit: ``(highway_rank
desc, osmid asc)``.

Faithfulness notes (all verified against the reference source):
- the "zigzag drop" rule (:768-774) is dead code in the current reference
  (its first clause can never hold once self-loop partners are filtered at
  :751-754), so it is not reimplemented;
- a representative whose group has >= 2 rows but zero ratio-eligible
  partners produces NO output link (:760-761) -- reproduced;
- ``g_reversed`` rows get u/v swapped + geometries reversed at the end
  (p3_simplification.py:393-401); the reference then sets a typo'd new
  column ``g_reverse`` instead of clearing ``g_reversed`` -- we keep
  ``g_reversed`` as the (pre-swap) direction flag and skip the typo column.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import folds
from ..functions.tags import clean_float_col
from ..operators.groupedmap import GroupView, grouped_map_batched


def py_list_str(l) -> str:
    """Canonical Python ``str(list)`` serialization (golden gpkg format:
    ``"['left_no', 'right_lane_advisory']"`` / ``"[1, 2]"``)."""
    if l is None:
        return None
    if not isinstance(l, (list, tuple)):
        return str(l)
    return "[" + ", ".join(repr(x) if isinstance(x, str) else str(x) for x in l) + "]"


# ------------------------------------------------------------------ step 10

NODE_OUT_SCHEMA = (
    "g_id long, g_x double, g_y double, g_infra string, g_crossing boolean, "
    "g_signals boolean, l_id string, l_osmid string, l_hw_conn string, "
    "l_hw_rank string"
)


def _fold_node_group(d: dict, lo: int, hi: int) -> list[dict]:
    """Step 10 (p3_functions.py:654-698 + Node :1412-1474): fold one
    cluster ``[lo, hi)`` into one output node -- array twin of
    ``tests/_twins.py::merge_node_group_pandas``. The representative is the
    first self-rep (``osmid == merged_by``) in ``(highway_rank desc, osmid
    asc)`` order, else the first row. g_infra is sorted (the reference uses
    ``list(set(...))`` whose order is hash-seed dependent -- sorting is the
    deterministic refinement of the same set)."""
    osmid = d["osmid"][lo:hi]
    rank = d["highway_rank"][lo:hi].astype(float)
    order = lo + np.lexsort((osmid, -rank))
    self_rep = d["osmid"][order] == d["merged_by"][order]
    rep = int(order[self_rep.argmax()])  # argmax is 0 without a self-rep
    infra = sorted(
        set(folds.listify_py(d["highway"][lo:hi]) + folds.listify_py(d["crossing"][lo:hi]))
    )
    old = folds.norm_old_osmid_list(d["old_osmid"][lo:hi]) if "old_osmid" in d else []
    l_osmid = folds.listify_py(old, as_int=True)
    return [
        {
            "g_id": int(d["merged_by"][rep]),
            "g_x": float(d["cx"][rep]),
            "g_y": float(d["cy"][rep]),
            "g_infra": py_list_str(infra),
            "g_crossing": "crossing" in infra,
            "g_signals": "traffic_signals" in infra,
            "l_id": py_list_str(folds.listify_py(osmid, as_int=True)),
            "l_osmid": py_list_str(l_osmid) if l_osmid else None,
            "l_hw_conn": py_list_str(folds.listify_py(d["highway_conn"][lo:hi])),
            "l_hw_rank": py_list_str(
                folds.listify_py(np.where(np.isnan(rank), 0.0, rank), as_int=True)
            ),
        }
    ]


def merge_nodes(nodes: DataFrame) -> DataFrame:
    """Step 10: fold each cluster (``merged_by``) into one output node."""
    return grouped_map_batched(nodes, ["merged_by"], _fold_node_group, NODE_OUT_SCHEMA)


# ------------------------------------------------------------------ step 11

_UV_KEYS = ["__ku", "__kv"]

EDGE_OUT_SCHEMA = (
    "g_u long, g_v long, g_id long, g_lit boolean, g_incline string, "
    "g_gradient double, g_height_d double, g_severity double, g_reversed boolean, "
    "g_crossing string, g_greenR double, g_retailR double, g_buildR double, "
    "g_geometry array<array<double>>, g_geo_lin array<array<double>>, "
    "g_geo_rea array<array<double>>, g_parkingL string, g_parkingR string, "
    "l_id string, l_osmid string, l_old_u string, l_old_v string, "
    "l_highway string, l_hw_rank string, "
    "access_bik boolean, access_wal boolean, access_mot boolean, "
    "w_length double, w_surface string, w_smoothne string, w_width double, "
    "w_segregat string, "
    "b_length double, b_surface string, b_smoothne string, b_width string, "
    "b_bikeRoad boolean, b_oneway boolean, b_category string, b_attribut string, "
    "b_segregat string, b_amntyOn string, b_amntyNea string, b_bikerack boolean, "
    "m_length double, m_width double, m_lanes double, m_oneway boolean, "
    "m_maxspeed double, m_ptStop long, m_ptRoutes string, __main_osmid long"
)

_EDGE_STR_COLS = [
    "highway", "surface", "smoothness", "segregated", "lit", "incline",
    "crossing", "sidewalk", "foot", "bicycle", "cycleway", "bicycle_road",
    "amenity_on", "amenity_nearby", "pt_stop_routes", "cycleway_category",
    "bike_access",
]


def _an_edge_cv(
    d: dict, gidx: np.ndarray, direction: np.ndarray, main_i: int,
    uv: bool, rev_flag: bool,
) -> dict | None:
    """AnEdge fold (p3_functions.py:1542-1601) for one direction — array-
    view twin of ``tests/_twins.py::an_edge_pandas`` (same values; pinned
    by tests/test_merge_cv_equivalence.py and the golden/contract
    suites)."""
    sub_idx = gidx[direction == rev_flag]
    if len(sub_idx) == 0:
        return None
    g = GroupView(d, gidx)
    s = GroupView(d, sub_idx)

    def mv(c):
        return d[c][main_i]

    rec: dict = {
        "g_u": int(mv("new_u")),
        "g_v": int(mv("new_v")),
        "g_id": int(mv("osmid")),
        "g_lit": folds.is_lit_py(g.col("lit")),
        "g_incline": py_list_str([str(a) for a in s.col("incline") if str(a) in ["up", "down"]]),
        "g_gradient": folds.mean_py(s.col("gradient")),
        "g_height_d": folds.mean_py(s.col("height_difference")),
        "g_severity": folds.mean_py(s.col("severity")),
        "g_reversed": not uv,
        "g_crossing": py_list_str(folds.get_param_py(g.col("crossing"))) if g.has("crossing") else None,
        "g_greenR": folds.mean_py(g.col("green_ratio")),
        "g_retailR": folds.mean_py(g.col("retail_ratio")),
        "g_buildR": folds.mean_py(g.col("building_ratio")),
        "g_geometry": list(mv("geometry")),
        "g_geo_lin": list(mv("geom_linear")),
        "g_geo_rea": list(mv("geom_reassigned")),
        "__main_osmid": int(mv("osmid")),
    }
    pl, pr = folds.parking_cv(g)
    rec["g_parkingL"] = py_list_str(pl)
    rec["g_parkingR"] = py_list_str(pr)
    rec["l_id"] = py_list_str(folds.listify_py(s.col("osmid"), as_int=True))
    old = folds.norm_old_osmid_list(s.col("old_osmid"))
    rec["l_osmid"] = py_list_str(folds.listify_py(old, as_int=True))
    rec["l_old_u"] = py_list_str(folds.listify_py(s.col("old_u"), as_int=True))
    rec["l_old_v"] = py_list_str(folds.listify_py(s.col("old_v"), as_int=True))
    rec["l_highway"] = py_list_str(folds.listify_py(s.col("highway")))
    rec["l_hw_rank"] = py_list_str(folds.listify_py(s.col("highway_rank")))

    rec["access_wal"] = folds.access_walk_cv(s)
    rec["access_bik"] = folds.access_bike_cv(s)
    rec["access_mot"] = folds.access_motorized_cv(s)

    if rec["access_wal"]:
        wr = g.sub(folds.walk_mask_cv(g))
        rec["w_length"] = float(folds._nanmax(wr.col("length"))) if len(wr) else None
        rec["w_surface"] = py_list_str(folds.listify_py(wr.col("surface")))
        rec["w_smoothne"] = py_list_str(folds.listify_py(wr.col("smoothness")))
        rec["w_segregat"] = py_list_str(folds.listify_py(wr.col("segregated")))
        rec["w_width"] = folds.weighted_vals_py(wr.col("width"), wr.col("length")) if len(wr) else None
    if rec["access_bik"]:
        br = g.sub(folds.bike_mask_cv(g))
        if len(br):
            rec["b_length"] = float(folds._nanmax(br.col("length")))
            if br.has("cycleway:surface") and len(folds._uniq(br.col("cycleway:surface"))) > 1:
                rec["b_surface"] = py_list_str(folds.listify_py(br.col("cycleway:surface")))
            else:
                rec["b_surface"] = py_list_str(folds.listify_py(br.col("surface")))
            rec["b_smoothne"] = py_list_str(folds.listify_py(br.col("smoothness")))
            if br.has("width_cycle_path"):
                rec["b_width"] = py_list_str(folds.weighted_vals_py(br.col("width_cycle_path"), br.col("length")))
            elif br.has("cycleway:width"):
                rec["b_width"] = py_list_str(folds.listify_py(br.col("cycleway:width")))
            rec["b_bikeRoad"] = bool((br.col("bicycle_road") == "yes").any())
            rec["b_oneway"] = bool((br.col("oneway:bicycle") == "yes").any()) if br.has("oneway:bicycle") else False
            am_on = folds.listify_py(br.col("amenity_on"))
            rec["b_amntyOn"] = py_list_str(am_on)
            rec["b_amntyNea"] = py_list_str(folds.listify_py(br.col("amenity_nearby")))
            rec["b_bikerack"] = any("bicycle_parking" in str(a) for a in am_on)
            cat_rows = br.sub(br.col("cycleway_category") != br.col("highway"))
            rec["b_category"] = py_list_str(folds.listify_py(cat_rows.col("cycleway_category")))
            rec["b_attribut"] = py_list_str(folds.cycleway_attributes_cv(br))
            rec["b_segregat"] = py_list_str(folds.listify_py(br.col("segregated")))
    if rec["access_mot"]:
        mr = g.sub(folds.motorized_mask_cv(g))
        rec["m_length"] = float(folds._nanmax(mr.col("length"))) if len(mr) else None
        rec["m_width"] = folds.weighted_vals_py(mr.col("width"), mr.col("length"))
        rec["m_lanes"] = folds.weighted_vals_py(mr.col("lanes"), mr.col("length"))
        ow = mr.col("oneway")
        rec["m_oneway"] = bool(((ow == True) | (ow == "True")).any())  # noqa: E712
        rec["m_maxspeed"] = folds.weighted_vals_py(mr.col("maxspeed"), mr.col("length"))
        rec["m_ptStop"] = int(folds._nanmax(mr.col("pt_stop_on"))) if len(mr) else None
        rec["m_ptRoutes"] = py_list_str(folds.listify_py(mr.col("pt_stop_routes")))
    return rec


def _fold_group_arrays(d: dict, lo: int, hi: int) -> list[dict]:
    """Greedy per-uv-pair merge (p3_functions.py:700-790) over one
    contiguous group slice of the batch's column arrays — array-view twin
    of ``tests/_twins.py::fold_uv_group_pandas`` (same greedy order, same
    values)."""
    n = hi - lo
    osmid = d["osmid"][lo:hi]
    rank = d["highway_rank"][lo:hi].astype(float)
    # (highway_rank desc, osmid asc) with NaN ranks last: lexsort ascending
    # on -rank puts NaN last exactly like pandas sort_values(desc)
    order = np.lexsort((osmid, -rank))
    gpos = lo + order
    state = [""] * n
    arr_nu = d["new_u"][gpos]
    arr_nv = d["new_v"][gpos]
    arr_len = d["length"][gpos].astype(float)
    bearing_src = d["bearing"]
    recs: list[dict] = []
    for i in range(n):
        if state[i] == "r":
            continue
        state[i] = "k"
        ri = int(gpos[i])
        partners: list[int] | None
        if n < 2:
            partners = None
        else:
            partners = []
            l1 = float(arr_len[i])
            for j in range(n):
                if j == i or state[j] == "k" or state[j] == "r":
                    continue
                if arr_nu[j] == arr_nv[j]:
                    state[j] = "r"
                    continue
                l2 = float(arr_len[j])
                if (l1 < 1e-7) or (l2 < 1e-7):
                    partners.append(j)
                elif max(l1 / max(l2, 1e-300), l2 / max(l1, 1e-300)) < 1.5:
                    partners.append(j)
            if not partners:
                continue  # representative emits no link (:760-761)
            for j in partners:
                state[j] = "r"
        # ---- Link fold (:1476-1540)
        if partners:
            gidx = np.concatenate([gpos[partners], gpos[i : i + 1]])
            b = float(bearing_src[ri])
            angle_l1 = b if b == b else 0.0
            bearing_vals = bearing_src[gidx].astype(float)
        else:
            gidx = gpos[i : i + 1]
            seg = np.array([list(c) for c in d["geom_linear"][ri]], dtype=float)
            angle_l1 = float(np.degrees(np.arctan2(seg[1][1] - seg[0][1], seg[1][0] - seg[0][0])))
            bearing_vals = np.array([angle_l1])
        direction = np.zeros(len(gidx), dtype=bool)
        finite = bearing_vals[~np.isnan(bearing_vals)]
        bmax = finite.max() if len(finite) else float("nan")
        bmin = finite.min() if len(finite) else float("nan")
        if not ((bmax - bmin) < 90):
            a = (angle_l1 - 90) if (angle_l1 - 90) > -180 else angle_l1 + 270
            b2 = (angle_l1 + 90) if (angle_l1 + 90) < 180 else angle_l1 - 270
            lower, upper = min(a, b2), max(a, b2)
            with np.errstate(invalid="ignore"):
                direction[(bearing_vals < upper) & (bearing_vals > lower)] = True
        main_dir = bool(direction[-1])  # mainRow is the last row
        rec_uv = _an_edge_cv(d, gidx, direction, ri, True, main_dir)
        rec_vu = _an_edge_cv(d, gidx, direction, ri, False, not main_dir)
        for rec in (rec_uv, rec_vu):
            if rec is not None:
                recs.append(rec)
    return recs


def merge_edges(edges: DataFrame) -> DataFrame:
    """Step 11: shuffle by unordered (new_u, new_v), fold per group.

    Self-loop rows (new_u == new_v) are dropped inside the fold -- note the
    reference's ``==`` typo at :729 means a self-loop encountered as
    representative still becomes a Link there; we drop them uniformly (the
    deleted_edges set is discarded by the caller either way,
    p3_simplification.py:350).
    """
    prepped = (
        edges.withColumn(
            "bearing",
            F.degrees(
                F.atan2(
                    F.element_at("geom_linear", 2)[1] - F.element_at("geom_linear", 1)[1],
                    F.element_at("geom_linear", 2)[0] - F.element_at("geom_linear", 1)[0],
                )
            ),
        )
        .withColumn("maxspeed", clean_float_col(F.col("maxspeed"), keep="max"))
        .withColumn("lanes", clean_float_col(F.col("lanes"), keep="max"))
        .withColumn("width", clean_float_col(F.col("width"), keep="min"))
        .filter(F.col("new_u") != F.col("new_v"))
        .withColumn("__ku", F.least("new_u", "new_v"))
        .withColumn("__kv", F.greatest("new_u", "new_v"))
    )
    # '' -> null on every string column, codegen'd once (the reference's
    # Link-init replace, p3_functions.py:1503); the per-group fold then
    # skips its per-column pandas normalization entirely
    prepped = prepped.withColumns(
        {
            f.name: F.nullif(F.col(f"`{f.name}`"), F.lit(""))
            for f in prepped.schema.fields
            if f.dataType.simpleString() == "string"
        }
    )
    return grouped_map_batched(prepped, _UV_KEYS, _fold_group_arrays, EDGE_OUT_SCHEMA)


# --------------------------------------------------------------- steps 12/13


def finalize_edges(links: DataFrame) -> DataFrame:
    """Steps 12-13 (p3_simplification.py:365-416): unique g_id reindex
    (deterministic order: main-row osmid, then direction -- via the
    distributed dense_index, not a single-task global window), then swap
    u/v + reverse geometries where g_reversed."""
    from ..operators.indexing import dense_index

    df = dense_index(links, ["__main_osmid", "g_reversed"], out_col="g_id").drop(
        "__main_osmid"
    )
    rev = F.col("g_reversed")
    return (
        df.withColumn("__u", F.when(rev, F.col("g_v")).otherwise(F.col("g_u")))
        .withColumn("__v", F.when(rev, F.col("g_u")).otherwise(F.col("g_v")))
        .withColumn("g_geo_lin", F.when(rev, F.reverse("g_geo_lin")).otherwise(F.col("g_geo_lin")))
        .withColumn("g_geo_rea", F.when(rev, F.reverse("g_geo_rea")).otherwise(F.col("g_geo_rea")))
        .drop("g_u", "g_v", "g_geometry")
        .withColumnRenamed("__u", "g_u")
        .withColumnRenamed("__v", "g_v")
    )


def edges_for_modes(final_edges: DataFrame, modes: list[str]) -> DataFrame:
    """getEdgeDict mode filter (p3_functions.py:1236-1241)."""
    flags = {"walk": "access_wal", "bike": "access_bik", "motorized": "access_mot"}
    cond = F.lit(False)
    for m in modes:
        cond = cond | F.coalesce(F.col(flags[m]), F.lit(False))
    return final_edges.filter(cond)
