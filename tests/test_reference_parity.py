"""Reference-derived step-count parity (VERDICT r1 item #2).

The reference prints per-step row counts (p3_simplification.py:143-144,
203, 235-237, 253): step-1 split deltas, cluster counts after passes 1/2,
step-6 split deltas, merged node/edge counts. This module re-derives those
invariants as a SEQUENTIAL pure-pandas/numpy mini-implementation of the
reference's step semantics (p3_functions.py: splitCurves :99-234,
getHighestRankingRoadOfNode :236-286, clusterNodes :371-484,
splitEdgeIfInNodeBuffer :486-578 + repair :1005-1072, reassignNodes
:580-652, mergeNodes :654-698, mergeEdgesWithSameNodes :700-790, Link
:1476-1540) and asserts the distributed Spark pipeline produces identical
counts on the same enriched input.

What this anchors: the distributed machinery (cell joins, CC, grouped-map
folds, shuffles) cannot silently drop/duplicate rows or mis-group without
this failing -- the twin shares only the scalar math kernels
(functions.geo) and the deterministic k-means stand-in with the engine;
all orchestration (who splits, who clusters, who merges) is independent
sequential code.

Documented deviations from the literal reference, applied to BOTH sides
(SURVEY 4.3; plans/merge.py docstring):
- every greedy "first row wins" uses the explicit total order
  (highway_rank desc, osmid asc) instead of pandas iteration order;
- self-loop edges (new_u == new_v) are dropped uniformly in step 11 (the
  reference's `== 'r'` typo at p3_functions.py:729 would keep a self-loop
  representative);
- cluster centroid = mean of highest-rank member centers (no shapely
  union polygons in this environment).
"""

import numpy as np
import pandas as pd
import pytest

from osmnetfusion_spark import synth
from osmnetfusion_spark.functions import geo
from osmnetfusion_spark.plans import pipeline, simplify
from osmnetfusion_spark.plans.simplify import (
    BUFFER_DEFAULT,
    CLUSTER_THRESHOLD,
    CURVE_ID_BASE,
    HIGHWAY_BUFFERS,
    HIGHWAY_RANKING,
    MAX_ANGLE_INITIAL,
    MAX_ANGLE_PREV,
    SPLIT_ID_BASE,
    _kmeans_det,
)


# --------------------------------------------------------- sequential twin


def _hav(y1, x1, y2, x2):
    return float(geo.haversine_np(np.array([y1]), np.array([x1]), np.array([y2]), np.array([x2]))[0])


def _split_positions(coords: np.ndarray) -> list[int]:
    """Reference angle scan (p3_functions.py:150-161): raw degree diffs."""
    a = np.degrees(np.arctan2(coords[1:, 1] - coords[:-1, 1], coords[1:, 0] - coords[:-1, 0]))
    splits, angle_initial, angle_prev = [], a[0], a[0]
    for i in range(len(a)):
        if abs(a[i] - angle_initial) > MAX_ANGLE_INITIAL:
            splits.append(i)
            angle_initial = a[i]
        elif abs(a[i] - angle_prev) > MAX_ANGLE_PREV:
            splits.append(i)
        angle_prev = a[i]
    return splits


def _step1_split_curves(edges: pd.DataFrame) -> tuple[pd.DataFrame, list[int]]:
    out_rows, new_node_ids = [], []
    for _, r in edges.iterrows():
        coords = np.array([list(c) for c in r["geometry"]], dtype=float)
        if len(coords) <= 2:
            out_rows.append(dict(r))
            continue
        splits = _split_positions(coords)
        if not splits:
            out_rows.append(dict(r))
            continue
        base = CURVE_ID_BASE + int(r["osmid"]) * 100
        bounds = [0] + splits + [len(coords) - 1]
        node_id = base
        for k in range(len(bounds) - 1):
            seg = coords[bounds[k] : bounds[k + 1] + 1]
            sub = dict(r)
            sub["geometry"] = [list(c) for c in seg]
            sub["length"] = geo.polyline_length_m(seg)
            sub["osmid"] = base + k
            if k > 0:
                sub["u"] = node_id
                new_node_ids.append(node_id)
                node_id += 1
            if k < len(bounds) - 2:
                sub["v"] = node_id
            out_rows.append(sub)
    out = pd.DataFrame(out_rows)
    # split-point coordinates for the new node table
    return out, sorted(set(new_node_ids))


def _step3_importance(nodes: pd.DataFrame, edges: pd.DataFrame) -> pd.DataFrame:
    inc = []
    for _, e in edges.iterrows():
        inc.append((e["u"], e["highway_rank"], e["highway"], 0, e["osmid"]))
        inc.append((e["v"], e["highway_rank"], e["highway"], 1, e["osmid"]))
    idf = pd.DataFrame(inc, columns=["osmid", "rank", "hw", "side", "eid"])
    idf = idf.sort_values(["rank", "side", "eid"], ascending=[False, True, True])
    agg = idf.groupby("osmid", sort=False).agg(
        highway_rank=("rank", lambda s: s.head(2).mean()),
        highway_conn=("hw", "first"),
    )
    out = nodes.merge(agg, left_on="osmid", right_index=True, how="left")
    return out


def _cluster_fold(members: pd.DataFrame, threshold: int) -> list[tuple[list[int], int, float, float]]:
    """One component -> list of (member_ids, rep_id, cx, cy)."""
    g = members.sort_values(["highway_rank", "osmid"], ascending=[False, True]).reset_index(drop=True)
    if len(g) < threshold:
        groups = [g]
    else:
        pts = g[["x", "y"]].to_numpy()
        k = len(g) // threshold + 1
        assign = _kmeans_det(pts, k)
        groups = [g[assign == c] for c in range(k) if (assign == c).any()]
    out = []
    for grp in groups:
        rep = grp.iloc[0]
        top = grp[grp.highway_rank == grp.highway_rank.max()]
        out.append(
            (grp.osmid.tolist(), int(rep.osmid), float(top.x.mean()), float(top.y.mean()))
        )
    return out


def _components(nodes: pd.DataFrame) -> dict[int, list[int]]:
    """All-pairs disk overlap -> connected components (min-id union-find)."""
    ids = nodes["osmid"].to_numpy()
    xs, ys, rs = (nodes[c].to_numpy(dtype=float) for c in ("x", "y", "buf_r"))
    parent: dict[int, int] = {}

    def find(a):
        while parent.get(a, a) != a:
            a = parent[a]
        return a

    n = len(ids)
    in_pair = set()
    for i in range(n):
        d = geo.haversine_np(np.full(n - i - 1, ys[i]), np.full(n - i - 1, xs[i]), ys[i + 1 :], xs[i + 1 :])
        hits = np.flatnonzero(d <= rs[i] + rs[i + 1 :])
        for h in hits:
            j = i + 1 + h
            a, b = find(int(ids[i])), find(int(ids[j]))
            in_pair.add(int(ids[i]))
            in_pair.add(int(ids[j]))
            if a != b:
                if b < a:
                    a, b = b, a
                parent[b] = a
    comps: dict[int, list[int]] = {}
    for v in in_pair:
        comps.setdefault(find(v), []).append(v)
    return comps


def _cluster_pass(nodes: pd.DataFrame, threshold: int, pass2: bool) -> pd.DataFrame:
    comps = _components(nodes)
    assign = {}
    for members in comps.values():
        sub = nodes[nodes.osmid.isin(members)]
        for ids_, rep, cx, cy in _cluster_fold(sub, threshold):
            for i in ids_:
                assign[i] = (rep, cx, cy)
    out = nodes.copy()
    mb, cx, cy = [], [], []
    for _, r in out.iterrows():
        if int(r.osmid) in assign:
            a = assign[int(r.osmid)]
        elif pass2:
            a = (r["merged_by"], r["cx"], r["cy"])
        else:
            a = (int(r.osmid), float(r.x), float(r.y))
        mb.append(int(a[0]))
        cx.append(float(a[1]))
        cy.append(float(a[2]))
    out["merged_by"], out["cx"], out["cy"] = mb, cx, cy
    return out


def _step6_splits(edges: pd.DataFrame, nodes: pd.DataFrame) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Per (edge, cluster): reference split rule; single-pass re-segment."""
    clusters = []
    for mb, g in nodes.groupby("merged_by"):
        disks = g[["x", "y", "buf_r"]].to_numpy(dtype=float)
        clusters.append((int(mb), float(g["cx"].iloc[0]), float(g["cy"].iloc[0]), disks))
    hits = []  # (eid, seg_i, t, sx, sy, pos, mb)
    for _, e in edges.iterrows():
        coords = np.array([list(c) for c in e["geometry"]], dtype=float)
        if (coords[0] == coords[-1]).all():
            continue
        ax, ay = coords[:-1, 0], coords[:-1, 1]
        bx, by = coords[1:, 0], coords[1:, 1]
        for mb, ccx, ccy, disks in clusters:
            dd0 = geo.haversine_np(np.full(len(disks), coords[0, 1]), np.full(len(disks), coords[0, 0]), disks[:, 1], disks[:, 0])
            dd1 = geo.haversine_np(np.full(len(disks), coords[-1, 1]), np.full(len(disks), coords[-1, 0]), disks[:, 1], disks[:, 0])
            if (dd0 <= disks[:, 2]).any() or (dd1 <= disks[:, 2]).any():
                continue
            hit = False
            for dx, dy, dr in disks:
                d = geo.point_segment_dist_np(np.full(len(ax), dy), np.full(len(ax), dx), ay, ax, by, bx)
                if (d <= dr).any():
                    hit = True
                    break
            if not hit:
                continue
            kx = np.cos(np.radians(ccy)) * geo.M_PER_DEG
            ky = geo.M_PER_DEG
            apx, apy = (ccx - ax) * kx, (ccy - ay) * ky
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
                continue
            seg_lens = geo.haversine_np(ay, ax, by, bx)
            pos = float(np.sum(seg_lens[:si]) + t[si] * seg_lens[si])
            hits.append((int(e["osmid"]), si, float(t[si]), sx, sy, pos, mb))
    hdf = pd.DataFrame(hits, columns=["eid", "seg_i", "t", "sx", "sy", "pos", "mb"])
    hdf = hdf.drop_duplicates(["eid", "sx", "sy"])

    out_rows, node_rows = [], []
    split_eids = set(hdf["eid"]) if len(hdf) else set()
    for _, e in edges.iterrows():
        eid = int(e["osmid"])
        if eid not in split_eids:
            out_rows.append(dict(e))
            continue
        sp = hdf[hdf.eid == eid].sort_values(["pos", "seg_i", "t", "sx", "sy", "mb"]).reset_index(drop=True)
        coords = [list(c) for c in e["geometry"]]
        base = SPLIT_ID_BASE + eid * 100
        # nodes: one per split point k (engine buffer_split_nodes posexplode)
        for k, s in sp.iterrows():
            node_rows.append({"osmid": base + k, "x": s.sx, "y": s.sy, "mb_hint": int(s.mb)})
        pieces, cur, k = [], [coords[0]], 0
        spts = sp.to_dict("records")
        for si in range(len(coords) - 1):
            while k < len(spts) and int(spts[k]["seg_i"]) == si:
                pt = [float(spts[k]["sx"]), float(spts[k]["sy"])]
                if pt != cur[-1]:
                    cur.append(pt)
                pieces.append(cur)
                cur = [pt]
                k += 1
            nxt = coords[si + 1]
            if nxt != cur[-1]:
                cur.append(nxt)
        if len(cur) >= 2:
            pieces.append(cur)
        pieces = [p for p in pieces if len(p) >= 2]
        if len(pieces) <= 1:
            out_rows.append(dict(e))
            continue
        node_id = base
        for j, pc in enumerate(pieces):
            sub = dict(e)
            sub["geometry"] = pc
            sub["length"] = geo.polyline_length_m(np.array(pc))
            if j > 0:
                sub["u"] = node_id
                sub["osmid"] = base + j
                node_id += 1
            if j < len(pieces) - 1:
                sub["v"] = node_id
            out_rows.append(sub)
    return pd.DataFrame(out_rows), pd.DataFrame(node_rows, columns=["osmid", "x", "y", "mb_hint"])


def _step11_counts(edges: pd.DataFrame) -> dict:
    """Greedy per-uv-pair merge -> AnEdge count + per-mode access tallies
    (the reference's step-12 per-mode prints, p3_simplification.py:373-380).

    Access flags reuse the pure-pandas rule twins (tests/_twins.py
    access_*_py -- already sequential code with file:line citations into
    the reference); the twin's contribution is the independent
    grouping/greedy/direction orchestration around them.
    """
    from _twins import access_bike_py, access_motorized_py, access_walk_py
    from osmnetfusion_spark.functions import tags

    e = edges[edges.new_u != edges.new_v].copy()
    # merge_edges prep parity: maxspeed -> clean(keep=max); '' -> NaN on
    # string cols (the engine nullifs every string column pre-shuffle)
    if "maxspeed" in e.columns:
        e["maxspeed"] = [tags.clean_float(x, keep="max") for x in e["maxspeed"]]
    for c in (
        "highway", "foot", "sidewalk", "bicycle", "cycleway", "bike_access",
        "bicycle_road", "oneway:bicycle", "cycleway:both", "cycleway:right",
        "cycleway:left", "cycleway:right:lane", "ramp:bicycle",
    ):
        if c in e.columns:
            e[c] = [
                np.nan if (isinstance(x, str) and x == "") else x for x in e[c]
            ]
    e["__ku"] = np.minimum(e.new_u, e.new_v)
    e["__kv"] = np.maximum(e.new_u, e.new_v)
    n_edges = 0
    n_mode = {"walk": 0, "bike": 0, "motorized": 0}
    for _, g in e.groupby(["__ku", "__kv"]):
        g = g.sort_values(["highway_rank", "osmid"], ascending=[False, True]).reset_index(drop=True)
        n = len(g)
        state = [""] * n
        for i in range(n):
            if state[i] == "r":
                continue
            state[i] = "k"
            row = g.iloc[i]
            if n < 2:
                partners = None
            else:
                partners = []
                l1 = float(row["length"])
                for j in range(n):
                    if j == i or state[j] in ("k", "r"):
                        continue
                    l2 = float(g.iloc[j]["length"])
                    if (l1 < 1e-7) or (l2 < 1e-7):
                        partners.append(j)
                    elif max(l1 / max(l2, 1e-300), l2 / max(l1, 1e-300)) < 1.5:
                        partners.append(j)
                if not partners:
                    continue
                for j in partners:
                    state[j] = "r"
            # Link direction split
            if partners:
                df = pd.concat([g.iloc[partners], g.iloc[[i]]], ignore_index=True)
                angle_l1 = float(row.bearing) if row.bearing == row.bearing else 0.0
            else:
                df = g.iloc[[i]].copy()
                angle_l1 = float(row.bearing) if row.bearing == row.bearing else 0.0
                df["bearing"] = angle_l1
            df = df.copy()
            df["direction"] = False
            bmax, bmin = df.bearing.max(), df.bearing.min()
            if not ((bmax - bmin) < 90):
                a = (angle_l1 - 90) if (angle_l1 - 90) > -180 else angle_l1 + 270
                b = (angle_l1 + 90) if (angle_l1 + 90) < 180 else angle_l1 - 270
                lower, upper = min(a, b), max(a, b)
                df.loc[(df.bearing < upper) & (df.bearing > lower), "direction"] = True
            main_dir = bool(df["direction"].iloc[-1])
            for uv, rev_flag in ((True, main_dir), (False, not main_dir)):
                subset = df[df.direction == rev_flag]
                if len(subset) == 0:
                    continue  # VU absent when no opposite-direction rows
                n_edges += 1
                if access_walk_py(subset):
                    n_mode["walk"] += 1
                if access_bike_py(subset):
                    n_mode["bike"] += 1
                if access_motorized_py(subset):
                    n_mode["motorized"] += 1
    return {
        "step12_edges": n_edges,
        "edges_walk": n_mode["walk"],
        "edges_bike": n_mode["bike"],
        "edges_motorized": n_mode["motorized"],
    }


def mini_p3_counts(nodes: pd.DataFrame, edges: pd.DataFrame, threshold: int = CLUSTER_THRESHOLD) -> dict:
    m: dict = {}
    # step 1
    edges, new_node_ids = _step1_split_curves(edges)
    id2coord = {}
    for _, e in edges.iterrows():
        if int(e["u"]) >= CURVE_ID_BASE:
            id2coord[int(e["u"])] = e["geometry"][0]
    new_nodes = pd.DataFrame(
        {"osmid": new_node_ids,
         "x": [id2coord[i][0] for i in new_node_ids],
         "y": [id2coord[i][1] for i in new_node_ids]}
    )
    nodes = pd.concat([nodes[["osmid", "x", "y"]], new_nodes], ignore_index=True)
    m["step1_edges"], m["step1_nodes"] = len(edges), len(nodes)
    # step 2
    edges["highway_rank"] = edges["highway"].map(HIGHWAY_RANKING).fillna(0.0)
    # steps 3-4
    nodes = _step3_importance(nodes, edges)
    nodes["buf_r"] = nodes["highway_conn"].map(HIGHWAY_BUFFERS).fillna(BUFFER_DEFAULT)
    # step 5
    nodes = _cluster_pass(nodes, threshold, pass2=False)
    m["step5_clusters"] = nodes["merged_by"].nunique()
    # step 6
    edges, sp_nodes = _step6_splits(edges, nodes)
    if len(sp_nodes):
        rep = nodes.set_index("osmid")[["highway_conn", "highway_rank"]]
        sp_nodes = sp_nodes.join(rep, on="mb_hint")
        sp_nodes["buf_r"] = sp_nodes["highway_conn"].map(HIGHWAY_BUFFERS).fillna(BUFFER_DEFAULT)
        sp_nodes["merged_by"] = sp_nodes["mb_hint"]
        sp_nodes["cx"], sp_nodes["cy"] = sp_nodes["x"], sp_nodes["y"]
        nodes = pd.concat([nodes, sp_nodes[nodes.columns.intersection(sp_nodes.columns)]], ignore_index=True)
    m["step6_edges"], m["step6_nodes"] = len(edges), len(nodes)
    # step 7
    nodes = _cluster_pass(nodes, threshold, pass2=True)
    m["step7_clusters"] = nodes["merged_by"].nunique()
    # step 8
    nmap = nodes.set_index("osmid")[["merged_by", "cx", "cy"]]
    edges = edges.join(nmap.add_prefix("u_"), on="u").join(nmap.add_prefix("v_"), on="v")
    edges["new_u"] = edges["u_merged_by"].fillna(edges["u"]).astype("int64")
    edges["new_v"] = edges["v_merged_by"].fillna(edges["v"]).astype("int64")
    edges["length"] = [
        _hav(r["u_cy"], r["u_cx"], r["v_cy"], r["v_cx"]) for _, r in edges.iterrows()
    ]
    edges["bearing"] = np.degrees(
        np.arctan2(edges["v_cy"] - edges["u_cy"], edges["v_cx"] - edges["u_cx"])
    )
    # step 10
    m["step10_nodes"] = nodes["merged_by"].nunique()
    # steps 11-12 (+ per-mode access tallies)
    m.update(_step11_counts(edges))
    return m


# ------------------------------------------------------------------- tests


@pytest.fixture(scope="module")
def pipeline_run(spark):
    import os

    # scale 1 in CI; set SPARK_GRAFT_PARITY_SCALE=2 for the bigger city
    # (verified green at scale 2; ~2 min extra, so not the default)
    city = synth.synthetic_city(scale=int(os.environ.get("SPARK_GRAFT_PARITY_SCALE", "1")))
    tables = synth.city_to_spark(spark, city)
    metrics: dict = {}
    nodes, edges = pipeline.run_enrichment(spark, tables, metrics=metrics)
    nodes = nodes.localCheckpoint()
    edges = edges.localCheckpoint()
    in_nodes = nodes.select("osmid", "x", "y").toPandas()
    tag_cols = [
        c for c in [
            "foot", "maxspeed", "sidewalk", "bicycle", "cycleway", "oneway",
            "bike_access", "bicycle_road", "oneway:bicycle", "cycleway:both",
            "cycleway:right", "cycleway:left", "cycleway:right:lane",
            "ramp:bicycle",
        ]
        if c in edges.columns
    ]
    in_edges = edges.select(
        "osmid", "u", "v", "geometry", "length", "highway",
        *[f"`{c}`" for c in tag_cols],
    ).toPandas()
    pipeline.run_simplification(spark, nodes, edges, metrics=metrics)
    return metrics, in_nodes, in_edges


def test_step_counts_match_reference_twin(pipeline_run):
    metrics, in_nodes, in_edges = pipeline_run
    twin = mini_p3_counts(in_nodes, in_edges)
    mismatches = {
        k: (twin[k], metrics.get(k)) for k in twin if twin[k] != metrics.get(k)
    }
    assert not mismatches, f"step-count drift vs sequential reference twin: {mismatches}"


def test_kmeans_branch_fires(pipeline_run):
    """The synthetic city's 56-node dense blob must exceed CLUSTER_THRESHOLD
    so the big-cluster k-means path (reference p3_functions.py:447-471) is
    exercised end-to-end, not just in unit tests."""
    _, in_nodes, in_edges = pipeline_run
    edges, _ = _step1_split_curves(in_edges)
    edges["highway_rank"] = edges["highway"].map(HIGHWAY_RANKING).fillna(0.0)
    nodes = pd.concat([in_nodes[["osmid", "x", "y"]]], ignore_index=True)
    nodes = _step3_importance(nodes, edges)
    nodes["buf_r"] = nodes["highway_conn"].map(HIGHWAY_BUFFERS).fillna(BUFFER_DEFAULT)
    comps = _components(nodes)
    big = [v for v in comps.values() if len(v) >= CLUSTER_THRESHOLD]
    assert big, "no component reaches the k-means threshold -- the big-cluster path is untested"
