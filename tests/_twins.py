"""Per-row / per-group reference twins of the vectorized production
kernels. They exist only as test oracles: each production kernel's
docstring names its twin here, and the parity tests assert bit-equal
output between the two.

- :func:`an_edge_pandas` / :func:`fold_uv_group_pandas`: the pandas
  parallel-edge fold, twin of ``merge._an_edge_cv`` /
  ``merge._fold_group_arrays`` (tests/test_merge_cv_equivalence.py);
- :func:`merge_node_group_pandas`: the pandas step-10 fold, twin of
  ``merge._fold_node_group``, and :func:`cluster_group_pandas`: the
  pandas steps-5/7 fold, twin of ``simplify._cluster_fold``
  (tests/test_groupedmap.py);
- :func:`cycleway_attributes_py` and :func:`norm_old_osmid`: pandas twins
  of ``folds.cycleway_attributes_cv`` and ``folds.norm_old_osmid_list``;
- :func:`split_rows_loop`: twin of ``simplify._split_fast``
  (tests/test_plans.py::test_split_fast_matches_loop);
- :func:`reassign_batch_loop`: twin of ``simplify._reassign_batch``
  (tests/test_plans.py::test_reassign_batch_matches_loop);
- :func:`access_walk_py` / :func:`access_bike_py` /
  :func:`access_motorized_py`, :func:`walk_rows` / :func:`bike_rows` /
  :func:`motorized_rows` and :func:`parking_py`: pandas twins of the
  ``folds.*_cv`` mode helpers, used by :func:`an_edge_pandas` and the
  reference-parity tally (tests/test_reference_parity.py);
- :func:`strip_html_loop`: the per-row ``re`` twin of
  ``pages._strip_html`` (tests/test_pages.py);
- :func:`knn_struct_min_sql`: the SQL struct-min kNN(1) plan, and
  :func:`knn_cascade_sql`, the per-rung cascade of it: twins of the
  ``spatial.knn_join_segments`` kernel (tests/test_snap_kernel.py).
"""

from __future__ import annotations

import re
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmnetfusion_spark import h3idx
from osmnetfusion_spark.functions import folds, geo
from osmnetfusion_spark.functions.folds import (
    BIKE_HW_ALL,
    BIKE_HW_STRICT,
    BIKE_TAG_COLS,
    NON_MOTORIZED_HW,
    WALK_HW_ALL,
    WALK_HW_STRICT,
    _BIKE_ATTR_RANK,
    _uniq,
)
from osmnetfusion_spark.operators import spatial
from osmnetfusion_spark.operators.partitioning import fan_out
from osmnetfusion_spark.plans.merge import EDGE_OUT_SCHEMA, py_list_str
from osmnetfusion_spark.plans.simplify import _kmeans_det

_TAG_RE = re.compile(rb"<[^>]+>")
_WS_RE = re.compile(rb"\s+")


def strip_html_loop(html: bytes | None) -> str | None:
    """Per-row twin of ``pages._strip_html``: the original ``re`` loop
    (tags to a space, collapse ``\\s+``, strip, decode with
    ``errors="replace"``), with NULL passed through."""
    if html is None:
        return None
    text = _WS_RE.sub(b" ", _TAG_RE.sub(b" ", bytes(html))).strip()
    return text.decode("utf-8", errors="replace")


def knn_struct_min_sql(
    points: DataFrame,
    segments: DataFrame,
    radius_m: float,
    point_id: str = "point_id",
    seg_id: str = "edge_id",
    lat: str = "lat",
    lon: str = "lon",
    carry: tuple[str, ...] = (),
    flat_kx: float | None = None,
) -> DataFrame:
    """SQL twin of ``spatial.knn_join_segments`` at one radius: the
    original struct-min plan.

    The segments, exploded to their ring-1-dilated cover cells, are
    equi-joined with each point's own cell; the distance is the same
    column expression over the ``spatial._segment_terms``, and ONE
    ``groupBy(point).agg(min(struct(dist, seg_id)))`` keeps the nearest,
    the lexicographic struct-min being the kNN(1) rule. Unlike the kernel,
    rows sharing a ``point_id`` (NULL included) collapse to one.
    """
    res = h3idx.pick_res(radius_m)
    m = F.lit(geo.M_PER_DEG)
    build = spatial._segment_terms(
        segments.select(F.col(seg_id).alias("__e"), "ax", "ay", "bx", "by"), flat_kx
    ).withColumn("cell", F.explode(spatial._ring1_cover(res)))
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
    cand = (
        probe.join(build, "cell")
        .withColumn("__d", F.sqrt(F.greatest(d2, F.lit(0.0))))
        .filter(F.col("__d") <= F.lit(float(radius_m)))
    )
    carry_out = [c for c in carry if c != point_id]
    best = cand.groupBy(point_id).agg(
        F.min(
            F.struct(
                F.col("__d").alias("d"),
                F.col("__e").alias("be"),
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


def knn_cascade_sql(
    points: DataFrame,
    segments: DataFrame,
    radii: tuple[float, ...],
    point_id: str = "point_id",
    seg_id: str = "edge_id",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """SQL twin of ``spatial.knn_join_segments`` over several rungs: the
    original cascade. Each rung is a :func:`knn_struct_min_sql`,
    materialized with ``localCheckpoint``; the points it matched are
    anti-joined away before the next radius, and the rungs are unioned."""
    remaining, outs = points, []
    for r in radii:
        matched = knn_struct_min_sql(
            remaining, segments, r, point_id=point_id, seg_id=seg_id, carry=carry
        ).localCheckpoint()
        outs.append(matched)
        remaining = remaining.join(matched.select(point_id), point_id, "left_anti")
    return reduce(DataFrame.unionByName, outs)


def an_edge_pandas(df: pd.DataFrame, main: pd.Series, uv: bool, rev_flag: bool) -> dict | None:
    """AnEdge fold (p3_functions.py:1542-1601) for one direction — the
    original pandas implementation (production path:
    ``merge._an_edge_cv``)."""
    subset = df[df.direction == rev_flag]
    if len(subset) == 0:
        return None
    rec: dict = {
        "g_u": int(main.new_u),
        "g_v": int(main.new_v),
        "g_id": int(main.osmid),
        "g_lit": folds.is_lit_py(df.lit),
        "g_incline": py_list_str([str(a) for a in subset.incline if str(a) in ["up", "down"]]),
        "g_gradient": folds.mean_py(subset.gradient),
        "g_height_d": folds.mean_py(subset.height_difference),
        "g_severity": folds.mean_py(subset.severity),
        "g_reversed": not uv,
        "g_crossing": py_list_str(folds.get_param_py(df.crossing)) if "crossing" in df.columns else None,
        "g_greenR": folds.mean_py(df.green_ratio),
        "g_retailR": folds.mean_py(df.retail_ratio),
        "g_buildR": folds.mean_py(df.building_ratio),
        "g_geometry": list(main.geometry),
        "g_geo_lin": list(main.geom_linear),
        "g_geo_rea": list(main.geom_reassigned),
        "__main_osmid": int(main.osmid),
    }
    pl, pr = parking_py(df)
    rec["g_parkingL"] = py_list_str(pl)
    rec["g_parkingR"] = py_list_str(pr)
    rec["l_id"] = py_list_str(folds.listify_py(subset.osmid, as_int=True))
    old = norm_old_osmid(subset.old_osmid)
    rec["l_osmid"] = py_list_str(folds.listify_py(old, as_int=True))
    rec["l_old_u"] = py_list_str(folds.listify_py(subset.old_u, as_int=True))
    rec["l_old_v"] = py_list_str(folds.listify_py(subset.old_v, as_int=True))
    rec["l_highway"] = py_list_str(folds.listify_py(subset.highway))
    rec["l_hw_rank"] = py_list_str(folds.listify_py(subset.highway_rank))

    rec["access_wal"] = access_walk_py(subset)
    rec["access_bik"] = access_bike_py(subset)
    rec["access_mot"] = access_motorized_py(subset)

    if rec["access_wal"]:
        wr = walk_rows(df)
        rec["w_length"] = float(wr.length.max()) if len(wr) else None
        rec["w_surface"] = py_list_str(folds.listify_py(wr.surface))
        rec["w_smoothne"] = py_list_str(folds.listify_py(wr.smoothness))
        rec["w_segregat"] = py_list_str(folds.listify_py(wr.segregated))
        rec["w_width"] = folds.weighted_vals_py(wr.width, wr.length) if len(wr) else None
    if rec["access_bik"]:
        br = bike_rows(df)
        if len(br):
            rec["b_length"] = float(br.length.max())
            if "cycleway:surface" in br.columns and len(br["cycleway:surface"].explode().unique()) > 1:
                rec["b_surface"] = py_list_str(folds.listify_py(br["cycleway:surface"]))
            else:
                rec["b_surface"] = py_list_str(folds.listify_py(br.surface))
            rec["b_smoothne"] = py_list_str(folds.listify_py(br.smoothness))
            if "width_cycle_path" in br.columns:
                rec["b_width"] = py_list_str(folds.weighted_vals_py(br.width_cycle_path, br.length))
            elif "cycleway:width" in br.columns:
                rec["b_width"] = py_list_str(folds.listify_py(br["cycleway:width"]))
            rec["b_bikeRoad"] = bool((br.bicycle_road == "yes").any())
            rec["b_oneway"] = bool((br["oneway:bicycle"] == "yes").any()) if "oneway:bicycle" in br.columns else False
            am_on = folds.listify_py(br.amenity_on)
            rec["b_amntyOn"] = py_list_str(am_on)
            rec["b_amntyNea"] = py_list_str(folds.listify_py(br.amenity_nearby))
            rec["b_bikerack"] = any("bicycle_parking" in str(a) for a in am_on)
            cat_rows = br[br.cycleway_category != br.highway]
            rec["b_category"] = py_list_str(folds.listify_py(cat_rows.cycleway_category))
            rec["b_attribut"] = py_list_str(cycleway_attributes_py(br))
            rec["b_segregat"] = py_list_str(folds.listify_py(br.segregated))
    if rec["access_mot"]:
        mr = motorized_rows(df)
        rec["m_length"] = float(mr.length.max()) if len(mr) else None
        rec["m_width"] = folds.weighted_vals_py(mr.width, mr.length)
        rec["m_lanes"] = folds.weighted_vals_py(mr.lanes, mr.length)
        rec["m_oneway"] = bool(mr.oneway.isin([True, "True"]).any())
        rec["m_maxspeed"] = folds.weighted_vals_py(mr.maxspeed, mr.length)
        rec["m_ptStop"] = int(mr.pt_stop_on.max()) if len(mr) else None
        rec["m_ptRoutes"] = py_list_str(folds.listify_py(mr.pt_stop_routes))
    return rec


def fold_uv_group_pandas(pdf: pd.DataFrame) -> pd.DataFrame:
    """Greedy per-uv-pair merge (p3_functions.py:700-790), group-local —
    the original pandas implementation (production path:
    ``merge._fold_group_arrays`` via ``groupedmap.grouped_map_batched``)."""
    pdf = pdf.sort_values(["highway_rank", "osmid"], ascending=[False, True]).reset_index(drop=True)
    # '' -> null normalization (Link init :1503) happens ONCE in the JVM
    # (merge_edges nullifs every string column before the shuffle) -- doing
    # it here cost ~50 pandas .map calls per (tiny) group
    work = pdf
    n = len(pdf)
    state = [""] * n
    recs: list[dict] = []
    # plain arrays for the pairwise partner scan (a Series per pair costs
    # ~50x the comparison on these 2-5 row groups)
    arr_nu = work["new_u"].to_numpy()
    arr_nv = work["new_v"].to_numpy()
    arr_len = work["length"].to_numpy(dtype=float)
    for i in range(n):
        if state[i] == "r":
            continue
        state[i] = "k"
        row = work.iloc[i]
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
            df = pd.concat([work.iloc[partners], work.iloc[[i]]], ignore_index=False)
            angle_l1 = float(row.bearing) if row.bearing == row.bearing else 0.0
        else:
            df = work.iloc[[i]].copy()
            seg = np.array([list(c) for c in row.geom_linear], dtype=float)
            angle_l1 = float(np.degrees(np.arctan2(seg[1][1] - seg[0][1], seg[1][0] - seg[0][0])))
            df["bearing"] = angle_l1
        df = df.copy()
        df["direction"] = False
        bmax, bmin = df.bearing.max(), df.bearing.min()
        if not ((bmax - bmin) < 90):
            a = (angle_l1 - 90) if (angle_l1 - 90) > -180 else angle_l1 + 270
            b = (angle_l1 + 90) if (angle_l1 + 90) < 180 else angle_l1 - 270
            lower, upper = min(a, b), max(a, b)
            df.loc[(df.bearing < upper) & (df.bearing > lower), "direction"] = True
        main_dir = bool(df["direction"].iloc[-1])  # mainRow is the last row
        rec_uv = an_edge_pandas(df, row, uv=True, rev_flag=main_dir)
        rec_vu = an_edge_pandas(df, row, uv=False, rev_flag=(not main_dir))
        for rec in (rec_uv, rec_vu):
            if rec is not None:
                recs.append(rec)
    cols = [f.split(" ")[0].strip("`") for f in EDGE_OUT_SCHEMA.split(", ")]
    out = pd.DataFrame(recs)
    for c in cols:
        if c not in out.columns:
            out[c] = None
    return out[cols] if len(out) else pd.DataFrame(columns=cols)


def merge_node_group_pandas(pdf: pd.DataFrame) -> pd.DataFrame:
    """Step-10 fold of one cluster -- the original pandas implementation
    (production path: ``merge._fold_node_group``)."""
    pdf = pdf.sort_values(["highway_rank", "osmid"], ascending=[False, True])
    rep = pdf[pdf.osmid == pdf.merged_by]
    rep = rep.iloc[0] if len(rep) else pdf.iloc[0]
    infra = sorted(set(folds.listify_py(pdf.highway) + folds.listify_py(pdf.crossing)))
    old = norm_old_osmid(pdf.old_osmid) if "old_osmid" in pdf.columns else pd.Series([[]])
    l_osmid = folds.listify_py(old, as_int=True)
    return pd.DataFrame(
        [
            {
                "g_id": int(rep.merged_by),
                "g_x": float(rep.cx),
                "g_y": float(rep.cy),
                "g_infra": py_list_str(infra),
                "g_crossing": "crossing" in infra,
                "g_signals": "traffic_signals" in infra,
                "l_id": py_list_str(folds.listify_py(pdf.osmid, as_int=True)),
                "l_osmid": py_list_str(l_osmid) if l_osmid else None,
                "l_hw_conn": py_list_str(folds.listify_py(pdf.highway_conn)),
                "l_hw_rank": py_list_str(
                    folds.listify_py(pdf.highway_rank.fillna(0.0), as_int=True)
                ),
            }
        ]
    )


def cluster_group_pandas(pdf: pd.DataFrame, threshold: int) -> pd.DataFrame:
    """Steps-5/7 fold of one component -- the original pandas
    implementation (production path: ``simplify._cluster_fold``)."""
    pdf = pdf.sort_values(["highway_rank", "osmid"], ascending=[False, True]).reset_index(drop=True)
    if len(pdf) < threshold:
        groups = [pdf]
    else:
        pts = pdf[["x", "y"]].to_numpy()
        k = len(pdf) // threshold + 1
        assign = _kmeans_det(pts, k)
        groups = [pdf[assign == c] for c in range(k) if (assign == c).any()]
    outs = []
    for g in groups:
        rep = g.iloc[0]
        top = g[g.highway_rank == g.highway_rank.max()]
        cx, cy = float(top.x.mean()), float(top.y.mean())
        outs.append(
            pd.DataFrame(
                {"osmid": g.osmid.to_numpy(), "merged_by": np.int64(rep.osmid), "cx": cx, "cy": cy}
            )
        )
    return pd.concat(outs, ignore_index=True)


def norm_old_osmid(series: pd.Series) -> pd.Series:
    """Reference old_osmid prep (p3_functions.py:1584-1585) on a Series."""
    return series.map(folds._norm_old_osmid_one)


def _get_bike_attr(df: pd.DataFrame, tag: str, prefix: str) -> list:
    """BicycleEdge.getBikeAttr, p3_functions.py:1988-1998."""
    if tag not in df.columns:
        return []
    attr = [
        x
        for x in df[tag]
        if (x not in ["", "pictogram"]) and (x is not None) and (x == x)
    ]
    if ("no" in attr) and len(attr) > 1:
        attr.remove("no")
    for i, a in enumerate(attr):
        if isinstance(a, list):
            attr[i] = sorted(
                a, key=lambda x: _BIKE_ATTR_RANK.index(x) if x in _BIKE_ATTR_RANK else 0
            )[-1]
    return [f"{prefix}{x}" for x in attr]


def cycleway_attributes_py(df: pd.DataFrame) -> list:
    """BicycleEdge attribute precedence fold, p3_functions.py:1999-2021."""
    attr1 = _get_bike_attr(df, "cycleway:left:lane", "left_lane_")
    attr2 = _get_bike_attr(df, "cycleway:right:lane", "right_lane_")
    attr3, attr4, attr5 = [], [], []
    if len(attr1) == 0:
        attr3 = _get_bike_attr(df, "cycleway:left", "left_")
    if len(attr2) == 0:
        attr4 = _get_bike_attr(df, "cycleway:right", "right_")
    if ((len(attr1) == 0) and (len(attr3) == 0)) or ((len(attr2) == 0) and (len(attr4) == 0)):
        attr5 = _get_bike_attr(df, "cycleway", "")
        attr5 += _get_bike_attr(df, "cycleway:both", "")
        if ("no" in attr5) and len(attr5) > 1:
            attr5.remove("no")
    flat = []
    for sub in (attr1, attr2, attr3, attr4, attr5):
        for a in sub:
            if isinstance(a, list):
                flat.extend(a)
            else:
                flat.append(a)
    return sorted(set(flat))


def split_rows_loop(pdf: pd.DataFrame) -> list[dict]:
    """Per-row twin of ``simplify._split_fast``: the original per-row
    refinement (reference p3_functions.py:528-556)."""
    rows = []
    for _, r in pdf.iterrows():
        coords = np.array([list(c) for c in r["geometry"]], dtype=float)
        if (coords[0] == coords[-1]).all():
            continue  # linear ring (reference :534-536)
        disks = np.array([[d["x"], d["y"], d["buf_r"]] for d in r["disks"]])
        dd0 = geo.haversine_np(
            np.full(len(disks), coords[0, 1]), np.full(len(disks), coords[0, 0]),
            disks[:, 1], disks[:, 0],
        )
        dd1 = geo.haversine_np(
            np.full(len(disks), coords[-1, 1]), np.full(len(disks), coords[-1, 0]),
            disks[:, 1], disks[:, 0],
        )
        if (dd0 <= disks[:, 2]).any() or (dd1 <= disks[:, 2]).any():
            continue  # an endpoint is inside the buffer (:538)
        # does the edge intersect any member disk?
        ax, ay = coords[:-1, 0], coords[:-1, 1]
        bx, by = coords[1:, 0], coords[1:, 1]
        hit = False
        for dx, dy, dr in disks:
            d = geo.point_segment_dist_np(
                np.full(len(ax), dy), np.full(len(ax), dx), ay, ax, by, bx
            )
            if (d <= dr).any():
                hit = True
                break
        if not hit:
            continue
        # nearest polyline point to the cluster centroid
        px, py = float(r["ccx"]), float(r["ccy"])
        kx = np.cos(np.radians(py)) * geo.M_PER_DEG
        ky = geo.M_PER_DEG
        apx, apy = (px - ax) * kx, (py - ay) * ky
        abx, aby = (bx - ax) * kx, (by - ay) * ky
        ab2 = abx * abx + aby * aby
        t = np.where(ab2 > 0, (apx * abx + apy * aby) / np.where(ab2 > 0, ab2, 1), 0.0)
        t = np.clip(t, 0.0, 1.0)
        qx, qy = ax + t * (bx - ax), ay + t * (by - ay)
        dist = np.sqrt((apx - t * abx) ** 2 + (apy - t * aby) ** 2)
        si = int(np.argmin(dist))
        sx, sy = float(qx[si]), float(qy[si])
        if (abs(sx - coords[0, 0]) < 1e-12 and abs(sy - coords[0, 1]) < 1e-12) or (
            abs(sx - coords[-1, 0]) < 1e-12 and abs(sy - coords[-1, 1]) < 1e-12
        ):
            continue  # nearest point is an endpoint (:540)
        # position along the line for ordering multi-splits
        seg_lens = geo.haversine_np(ay, ax, by, bx)
        pos = float(np.sum(seg_lens[:si]) + t[si] * seg_lens[si])
        rows.append({"eid": int(r["eid"]), "seg_i": si, "t": float(t[si]),
                     "sx": sx, "sy": sy, "pos": pos, "mb": int(r["merged_by"])})
    return rows


def reassign_batch_loop(pdf: pd.DataFrame) -> tuple[list, list, list]:
    """Per-row twin of ``simplify._reassign_batch``: the original
    implementation (reference p3_functions.py:580-652)."""
    lin, rea, lens = [], [], []
    for _, r in pdf.iterrows():
        coords = [list(c) for c in r["geometry"]]
        u_pt = [float(r["u_cx"]), float(r["u_cy"])]
        v_pt = [float(r["v_cx"]), float(r["v_cy"])]
        if r["u"] == r["new_u"]:
            mid = coords[1:]
        elif r["v"] == r["new_v"]:
            mid = coords[:-1]
        else:
            mid = coords[:]
        if mid:
            mm = np.array(mid, dtype=float)
            du = geo.haversine_np(mm[:, 1], mm[:, 0], np.full(len(mm), u_pt[1]), np.full(len(mm), u_pt[0]))
            dv = geo.haversine_np(mm[:, 1], mm[:, 0], np.full(len(mm), v_pt[1]), np.full(len(mm), v_pt[0]))
            i1, i2 = int(np.argmin(du)), int(np.argmin(dv))
            mid = mid[i1 : i2 + 1]
        fwd = [u_pt] + mid + [v_pt]
        rev = [u_pt] + list(reversed(mid)) + [v_pt]
        lf = geo.polyline_length_m(np.array(fwd))
        lr = geo.polyline_length_m(np.array(rev))
        chosen = fwd if lf < lr else rev
        lin.append([u_pt, v_pt])
        rea.append(chosen)
        lens.append(geo.polyline_length_m(np.array([u_pt, v_pt])))
    return lin, rea, lens


# ------------------------------------------ pandas mode-access/row twins


def _bike_tag_any(df: pd.DataFrame) -> bool:
    for c in BIKE_TAG_COLS:
        if c not in df.columns:
            continue
        for x in _uniq(df[c]):
            if (x is not None) and (x == x) and str(x) not in ["no", ""]:
                return True
    return False


def access_walk_py(df: pd.DataFrame) -> bool:
    """checkModeAccess('walk'), p3_functions.py:1639-1652."""
    hw = _uniq(df.highway)
    if any(x in WALK_HW_ALL for x in hw):
        return True
    if any(x in ["designated", "yes"] for x in _uniq(df.foot)):
        return True
    if any((x is not None) and (x == x) and x <= 50 for x in _uniq(df.maxspeed)):
        return True
    if any(
        x not in ["no", ""] for x in _uniq(df.sidewalk) if (x is not None) and (x == x)
    ):
        return True
    return False


def access_bike_py(df: pd.DataFrame) -> bool:
    """checkModeAccess('bike'), p3_functions.py:1654-1680."""
    hw = _uniq(df.highway)
    bic = _uniq(df.bicycle)
    access = False
    if any(x in BIKE_HW_ALL for x in hw) or any(x in ["yes", "designated"] for x in bic) or _bike_tag_any(df):
        access = True
    if all(x == "no" for x in bic):
        access = False
    if any(
        str(x) != "" for x in _uniq(df.cycleway) if (x is not None) and (x == x)
    ):
        access = True
    return access


def access_motorized_py(df: pd.DataFrame) -> bool:
    """checkModeAccess('motorized'), p3_functions.py:1682-1690."""
    access = any(x not in NON_MOTORIZED_HW for x in _uniq(df.highway))
    if any(df.oneway.isin(["True", True])):
        if "bike_access" in df.columns and any(df.bike_access == "bike_only"):
            access = False
    return access


def walk_rows(df: pd.DataFrame) -> pd.DataFrame:
    """WalkEdge.getWalkEdges, p3_functions.py:1893-1915."""
    hw = _uniq(df.highway)
    if any(x in WALK_HW_STRICT for x in hw):
        return df[df.highway.isin(WALK_HW_STRICT)]
    if any(x == "designated" for x in _uniq(df.foot)):
        return df[df.foot.isin(["designated", "yes"])]
    if any(x in WALK_HW_ALL for x in hw):
        return df[df.highway.isin(WALK_HW_ALL)]
    return df[(df.maxspeed <= 30) | ~df.sidewalk.isin(["no", ""])]


def bike_rows(df: pd.DataFrame) -> pd.DataFrame:
    """BicycleEdge.getBikeEdges, p3_functions.py:2044-2071."""
    hw = _uniq(df.highway)
    if any(x in BIKE_HW_STRICT for x in hw) or any(
        x in ["yes", "designated"] for x in _uniq(df.bicycle)
    ):
        return df[
            (df.highway.isin(BIKE_HW_STRICT)) | (df.bicycle == "yes") | (df.bicycle == "designated")
        ]
    cond0 = any(x in BIKE_HW_ALL for x in hw)
    cond3 = any(
        str(x) != "" for x in _uniq(df.cycleway) if (x is not None) and (x == x)
    )
    if cond0 or _bike_tag_any(df) or cond3:
        return df[(df.highway.isin(BIKE_HW_ALL)) | (df.cycleway != "")]
    # reference falls off the end -> None; callers guard with access first
    return df.iloc[0:0]


def motorized_rows(df: pd.DataFrame) -> pd.DataFrame:
    """MotorizedEdge.getMotorizedEdges, p3_functions.py:2107-2120."""
    if any(x not in NON_MOTORIZED_HW for x in _uniq(df.highway)):
        return df[~df.highway.isin(NON_MOTORIZED_HW)]
    return df


def parking_py(df: pd.DataFrame) -> tuple[list, list]:
    """AnEdge.hasParking, p3_functions.py:1606-1624."""
    bad = ["no", "no_stopping", "fire_lane", ""]

    def vals(col):
        if col not in df.columns:
            return []
        return [
            a
            for a in _uniq(df[col])
            if (a not in bad) and (a is not None) and (a == a)
        ]

    left = vals("parking:lane:left") + vals("parking:lane:both")
    right = vals("parking:lane:right") + vals("parking:lane:both")
    return sorted(set(left)), sorted(set(right))
