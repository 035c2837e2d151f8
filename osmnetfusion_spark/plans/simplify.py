"""Network simplification steps 1-8 (reference p3_simplification.py:120-278)
as distributed DataFrame transforms.

Representation choices that make the reference's shapely geometry ops
analytic (and therefore cell-local-joinable):

- a node buffer is a DISK (center, radius) -- the reference buffers point
  geometries (``p3_functions.py:288-341``), so disk-disk overlap is
  ``dist <= r1 + r2`` and point-in-buffer is ``dist <= r``: no polygons.
- a CLUSTER buffer (the union polygon ``geom_buff_merged``) is the SET of
  member disks; edge-intersects-cluster is a min over member disks.
- the cluster centroid ``geom_merged`` (reference: centroid of the union of
  the highest-rank member disks) is approximated by the MEAN of the
  highest-rank member centers -- exact for single members and symmetric
  overlaps, documented divergence otherwise (no shapely available, and the
  value only steers where merged nodes land).

Determinism: every greedy "first row wins" in the reference becomes an
explicit total order ``(highway_rank desc, osmid asc)`` so N-vs-4N-core
runs are byte-identical (the reference itself is order-dependent and its
parallel variant differs from its serial one; see ``p3_functions.py:529``).
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import h3idx
from ..functions import geo
from ..operators.groupedmap import grouped_map_batched
from ..operators.partitioning import fan_out

# reference configFile.py:171-186
HIGHWAY_RANKING = {
    "trunk": 10.0, "trunk_link": 9.5, "primary": 9.25, "secondary": 9.0,
    "secondary_link": 8.5, "tertiary": 8.0, "residential": 7.0,
    "cycleway": 6.0, "path": 5.5, "footway": 5.0, "pedestrian": 4.5,
    "service": 4.0, "steps": 3.5, "bridleway": 3.0,
}
# reference configFile.py:189-204 (BUFFERS_2 == BUFFERS_1)
HIGHWAY_BUFFERS = {
    "trunk": 18.0, "trunk_link": 18.0, "primary": 18.0, "secondary": 16.0,
    "secondary_link": 16.0, "tertiary": 14.0, "residential": 12.0,
    "cycleway": 12.0, "path": 10.0, "footway": 10.0, "pedestrian": 10.0,
    "service": 6.0, "steps": 6.0, "bridleway": 6.0,
}
BUFFER_DEFAULT = 4.0  # 'all_others'
CLUSTER_THRESHOLD = 50  # configFile.py:188
MAX_ANGLE_INITIAL = 75.0  # configFile.py:225-227
MAX_ANGLE_PREV = 60.0
CURVE_ID_BASE = 10_000_000_00  # deterministic id namespace for curve splits
SPLIT_ID_BASE = 10_000_000_000_00  # namespace for buffer splits


def _map_lookup(col, mapping: dict[str, float], default: float):
    expr = F.lit(default)
    for k, v in sorted(mapping.items()):
        expr = F.when(col == k, F.lit(v)).otherwise(expr)
    return expr


def add_highway_rank(edges: DataFrame) -> DataFrame:
    """Step 2 (p3_functions.py:62-97): rank lookup, unknown -> 0."""
    return edges.withColumn(
        "highway_rank", _map_lookup(F.col("highway"), HIGHWAY_RANKING, 0.0)
    )


# ------------------------------------------------------------------ step 1


def _split_one_curve(coords: np.ndarray) -> list[int]:
    """Reference angle scan (p3_functions.py:150-161): split where the
    segment heading deviates >75 deg from the (rolling) initial heading or
    >60 deg from the previous one. Raw degree differences, no wraparound --
    faithful to the reference."""
    a = np.degrees(np.arctan2(coords[1:, 1] - coords[:-1, 1], coords[1:, 0] - coords[:-1, 0]))
    splits = []
    angle_initial = a[0]
    angle_prev = a[0]
    for i in range(len(a)):
        if abs(a[i] - angle_initial) > MAX_ANGLE_INITIAL:
            splits.append(i)
            angle_initial = a[i]
        elif abs(a[i] - angle_prev) > MAX_ANGLE_PREV:
            splits.append(i)
        angle_prev = a[i]
    return splits


def split_curves(edges: DataFrame) -> DataFrame:
    """Step 1 (p3_functions.py:99-234): split multi-bend polylines.

    Arrow-batched mapInPandas; each edge is independent (trivially
    parallel, the reference used row-chunked mp.Pool). Sub-edge/node ids
    are ``CURVE_ID_BASE + osmid*100 + k`` -- deterministic, collision-free
    for osmid < 1e10/100 and <100 splits (the reference's scheme is
    ``baseIdx + itr*100 + k`` with itr its frame index).

    New nodes are derivable from the output: every sub-edge u >= base marks
    a split node at its first coordinate (see :func:`curve_split_nodes`).
    """
    # thin file scans serialize the per-candidate angle scan on one core
    # (no-op for the pipeline's materialized city tables and at scale)
    edges = fan_out(edges)
    cols = edges.columns
    schema = edges.schema

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            # fast path: edges with <=2 coords (the vast majority at scale)
            # pass through without touching a Python row loop; only curve
            # candidates pay per-row work
            n_coords = pdf["geometry"].str.len()
            cand_pos = np.flatnonzero((n_coords > 2).to_numpy())
            split_plans = []  # (positional idx, coords, splits)
            for i in cand_pos:
                coords = np.array([list(c) for c in pdf.iat[i, pdf.columns.get_loc("geometry")]], dtype=float)
                splits = _split_one_curve(coords)
                if splits:
                    split_plans.append((i, coords, splits))
            split_set = {i for i, _, _ in split_plans}
            keep_mask = np.ones(len(pdf), dtype=bool)
            keep_mask[list(split_set)] = False
            outs = [pdf.iloc[keep_mask]] if keep_mask.any() else []
            out_rows = []
            for i, coords, splits in split_plans:
                row = pdf.iloc[i]
                base = CURVE_ID_BASE + int(row["osmid"]) * 100
                bounds = [0] + [s for s in splits] + [len(coords) - 1]
                node_id = base
                for k in range(len(bounds) - 1):
                    i0, i1 = bounds[k], bounds[k + 1]
                    sub = row.copy()
                    seg = coords[i0 : i1 + 1]
                    sub["geometry"] = [list(c) for c in seg]
                    sub["length"] = geo.polyline_length_m(seg)
                    sub["osmid"] = base + k
                    if k > 0:
                        sub["u"] = node_id
                        node_id += 1
                    if k < len(bounds) - 2:
                        sub["v"] = node_id
                    out_rows.append(sub)
            if out_rows:
                outs.append(pd.DataFrame(out_rows, columns=cols))
            yield pd.concat(outs, ignore_index=True)[cols] if outs else pdf.iloc[0:0]

    return edges.mapInPandas(run, schema=schema)


def curve_split_nodes(split_edges: DataFrame, node_tag_cols: list[str]) -> DataFrame:
    """New nodes created by :func:`split_curves`: one per new interior u."""
    nn = (
        split_edges.filter(F.col("u") >= CURVE_ID_BASE)
        .select(
            F.col("u").alias("osmid"),
            F.element_at("geometry", 1)[0].alias("x"),
            F.element_at("geometry", 1)[1].alias("y"),
        )
        .dropDuplicates(["osmid"])
    )
    for c in node_tag_cols:
        nn = nn.withColumn(c, F.lit(None).cast("string"))
    return nn


# ------------------------------------------------------------------ step 3


def node_importance(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Step 3 (p3_functions.py:236-286): per node, mean rank of its top-2
    incident edges + the top edge's highway type.

    Union of two joins (u-side, v-side) -> rank window top-2 -> agg. Total
    order for ties: (rank desc, side asc, edge osmid asc) -- the reference
    relies on its sort stability (u-join rows precede v-join rows).
    """
    e = edges.select("u", "v", "highway_rank", "highway", F.col("osmid").alias("__eid"))
    via_u = e.select(F.col("u").alias("osmid"), "highway_rank", "highway", F.lit(0).alias("__side"), "__eid")
    via_v = e.select(F.col("v").alias("osmid"), "highway_rank", "highway", F.lit(1).alias("__side"), "__eid")
    inc = via_u.unionByName(via_v)
    w = Window.partitionBy("osmid").orderBy(
        F.col("highway_rank").desc(), F.col("__side").asc(), F.col("__eid").asc()
    )
    top2 = inc.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= 2)
    agg = top2.groupBy("osmid").agg(
        F.avg("highway_rank").alias("highway_rank"),
        # the top-ranked edge's highway: F.first after a shuffle is NOT
        # order-guaranteed -- pick rn==1 explicitly (deterministic)
        F.max(F.when(F.col("__rn") == 1, F.col("highway"))).alias("highway_conn"),
    )
    # re-merge preserving all nodes (reference left-merges back :280-282)
    return nodes.drop("highway_rank", "highway_conn").join(agg, "osmid", "left")


# ------------------------------------------------------------------ step 4


def add_buffer_radius(nodes: DataFrame) -> DataFrame:
    """Step 4 (p3_functions.py:288-341): metre buffer radius keyed on the
    node's top-ranked connected highway type."""
    return nodes.withColumn(
        "buf_r", _map_lookup(F.col("highway_conn"), HIGHWAY_BUFFERS, BUFFER_DEFAULT)
    )


# --------------------------------------------------------------- steps 5/7


def _overlap_pairs(nodes: DataFrame) -> DataFrame:
    """Disk-overlap pairs: cell-local join, dist <= r1 + r2 (J12).

    The expensive haversine runs only on candidates surviving two CHEAP
    provable lower bounds on great-circle distance (guide §2.3 -- do less
    work per candidate row; the 3x3-cell candidate set in a dense field is
    ~20x the true pair count):

    - latitude band: d >= R * |dphi|  (hav(d/R) >= hav(dphi), hav monotone)
    - longitude band: d >= 2R * cos(phi_max) * (dl/2) * (1 - (dl/2)^2/6)
      (asin x >= x, sin x >= x - x^3/6, cos phi_a * cos phi_b >=
      cos^2 phi_max for |phi| <= 90; the bound goes negative -- i.e. keeps
      the row -- for |dl|/2 > sqrt(6), so it is sound for any input)

    Both are applied with a 0.1% slack factor and a +1 mm margin so float
    rounding of the bound can never exclude a pair the exact haversine
    filter would keep. No dedup pass: ``a`` carries each node once keyed
    by its own cell and ``b``'s 9 dilated copies are 9 DISTINCT cell ids
    (distinct offsets added to one base id), so a given (ia, ib) can meet
    in at most one cell -- the former dropDuplicates was a full extra
    shuffle of the (already unique) result.
    """
    rmax = max(HIGHWAY_BUFFERS.values())
    res = h3idx.pick_res(2 * rmax)
    # The 9-cell dilation rides the PROBE side: the compact (1-cell) side is
    # what a broadcast build would hold, and the probe base is round-robin
    # repartitioned to the cluster's parallelism FIRST -- a node table often
    # arrives as one small scan split, and without this the entire
    # candidates x haversine loop runs in one task (measured: the sf1.0
    # contract run probed ~5.7e8 candidates nearly single-threaded).
    # The offset set is symmetric, so dilating a instead of b pairs the
    # exact same (ia, ib) set: cell_a + off == cell_b <=> cell_b - off ==
    # cell_a, and each pair still meets in exactly one (cell_b, off).
    par = max(int(nodes.sparkSession.sparkContext.defaultParallelism), 1)
    a = nodes.select(
        F.col("osmid").alias("ia"), F.col("x").alias("xa"), F.col("y").alias("ya"),
        F.col("buf_r").alias("ra"),
    ).repartition(par).withColumn(
        "cell",
        F.explode(
            F.array(*[
                h3idx.cell_col(F.col("ya"), F.col("xa"), res) + F.lit(o) for o in h3idx.ring_offsets(1)
            ])
        ),
    )
    b = nodes.select(
        F.col("osmid").alias("ib"), F.col("x").alias("xb"), F.col("y").alias("yb"),
        F.col("buf_r").alias("rb"),
    ).withColumn("cell", h3idx.cell_col(F.col("yb"), F.col("xb"), res))
    rsum = F.col("ra") + F.col("rb") + F.lit(1e-3)
    deg2m = geo.EARTH_RADIUS_M * math.pi / 180.0
    lat_lb = F.abs(F.col("ya") - F.col("yb")) * F.lit(deg2m * 0.999)
    half_dl = F.abs(F.radians(F.col("xa") - F.col("xb"))) * F.lit(0.5)
    lon_lb = (
        F.lit(2.0 * geo.EARTH_RADIUS_M * 0.999)
        * F.cos(F.radians(F.greatest(F.abs(F.col("ya")), F.abs(F.col("yb")))))
        * half_dl
        * (F.lit(1.0) - half_dl * half_dl / F.lit(6.0))
    )
    return (
        a.join(b, "cell")
        .filter(F.col("ia") < F.col("ib"))
        .filter(lat_lb <= rsum)
        .filter(lon_lb <= rsum)
        .filter(
            geo.haversine_m(F.col("ya"), F.col("xa"), F.col("yb"), F.col("xb"))
            <= F.col("ra") + F.col("rb")
        )
        .select("ia", "ib", "xa", "ya", "xb", "yb")
    )


def _union_find_min(a_ids, b_ids) -> dict:
    """Min-id union-find: every node maps to the smallest id reachable from
    it. Result depends only on the edge SET (order-independent), so it is
    deterministic across partitionings and core counts."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(a_ids, b_ids):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {x: find(x) for x in parent}


def connected_components(
    pairs: DataFrame,
    spark: SparkSession,
    block_steps: int = 5,
    driver_limit: int = 2_000_000,
) -> DataFrame:
    """Distributed CC via the *filtering* scheme (Kiveris et al.), replacing
    scipy.csgraph (p3_functions.py:417-423). Returns (osmid, component) for
    every node that appears in a pair; component = min member id.

    Buffer-overlap graphs are geometrically local (disk radii <= 18 m), so:

    1. key each pair by a coarse H3 block (~32x the join cell); pairs whose
       endpoints share a block are solved by min-id union-find inside one
       ``applyInPandas`` group -- one shuffle, no iteration;
    2. contract the graph: only block-crossing pairs survive, with endpoints
       mapped to their local labels -- at city scale this is a few hundred
       rows, at planet scale still ~the block-boundary fraction;
    3. solve the contracted graph on the driver when it is small
       (deterministic union-find), else fall back to iterative hash-min
       label propagation with pointer jumping (O(log diameter) rounds).

    Versus running label propagation on the full graph this trades ~4 Spark
    jobs per round x O(log n) rounds for a constant ~5 jobs; the min-id
    labeling is order-independent, so N-core and 4N-core runs agree.
    """
    pairs = pairs.localCheckpoint(eager=False)
    rmax = max(HIGHWAY_BUFFERS.values())
    res = h3idx.pick_res(2 * rmax)
    blk = F.lit((res - block_steps) * h3idx.SHIFT_RES)  # reuse layout, coarser grid
    inv = float(1 << (res - block_steps))
    ba = blk + F.floor((F.col("ya") + 90.0) * inv).cast("long") * F.lit(h3idx.SHIFT_J) \
        + F.floor((F.col("xa") + 180.0) * inv).cast("long")
    bb = blk + F.floor((F.col("yb") + 90.0) * inv).cast("long") * F.lit(h3idx.SHIFT_J) \
        + F.floor((F.col("xb") + 180.0) * inv).cast("long")
    p = pairs.select("ia", "ib", ba.alias("ba"), bb.alias("bb"))
    intra = p.filter(F.col("ba") == F.col("bb")).select(F.col("ba").alias("block"), "ia", "ib")
    cross = p.filter(F.col("ba") != F.col("bb")).select("ia", "ib")

    def local_uf(pdf: pd.DataFrame) -> pd.DataFrame:
        lab = _union_find_min(pdf["ia"].to_numpy(), pdf["ib"].to_numpy())
        ids = np.unique(np.concatenate([pdf["ia"].to_numpy(), pdf["ib"].to_numpy()]))
        return pd.DataFrame(
            {"osmid": ids, "label": [lab.get(int(i), int(i)) for i in ids]}
        )

    local = (
        intra.groupBy("block")
        .applyInPandas(local_uf, "osmid long, label long")
        # lazy: materializes inside the first consumer job instead of a
        # standalone job -- at city scale the stage is overhead-bound
        .localCheckpoint(eager=False)
    )
    # contract: map cross-pair endpoints through their local labels
    la = local.select(F.col("osmid").alias("ia"), F.col("label").alias("__la"))
    lb = local.select(F.col("osmid").alias("ib"), F.col("label").alias("__lb"))
    contracted = (
        cross.join(la, "ia", "left")
        .join(lb, "ib", "left")
        .select(
            F.coalesce("__la", F.col("ia")).alias("a"),
            F.coalesce("__lb", F.col("ib")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )
    root_map = _cc_iterative(contracted, spark, driver_limit=driver_limit).select(
        F.col("osmid").alias("l1"), F.col("component").alias("__root")
    )

    members = (
        pairs.select(F.col("ia").alias("osmid"))
        .unionByName(pairs.select(F.col("ib").alias("osmid")))
        .distinct()
    )
    out = (
        members.join(local, "osmid", "left")
        .withColumn("l1", F.coalesce("label", F.col("osmid")))
        .join(root_map, "l1", "left")
    )
    return out.select("osmid", F.coalesce("__root", F.col("l1")).alias("component"))


def _cc_iterative(
    pairs: DataFrame,
    spark: SparkSession,
    max_iters: int = 25,
    driver_limit: int = 2_000_000,
) -> DataFrame:
    """(osmid, component) of an (a, b) pair graph; the contracted-graph
    solver of :func:`connected_components` step 3.

    Pair sets under ``driver_limit`` solve on the driver with the same
    deterministic min-id union-find the block CC uses inside its blocks --
    identical labels, and a handful of rounds x ~5 Spark jobs each
    collapse to one collect (the near-dup graphs of q_dedup_pipeline are
    tiny relative to the corpus). Larger sets run iterative hash-min label
    propagation + pointer jumping: each round does (a) label <- min(label,
    neighbor labels) and (b) one pointer-jump label <- label(label), giving
    O(log diameter) rounds instead of O(diameter); localCheckpoint per
    round truncates lineage."""
    pairs = pairs.localCheckpoint(eager=False)
    n_pairs = pairs.count()
    if n_pairs <= driver_limit:
        rows = pairs.collect() if n_pairs else []
        lab = _union_find_min([r.a for r in rows], [r.b for r in rows])
        ids = sorted({int(r.a) for r in rows} | {int(r.b) for r in rows})
        comp = spark.createDataFrame(
            [(i, int(lab.get(i, i))) for i in ids], "osmid long, component long"
        )
        # small by construction, so broadcast to joins; the literal filter
        # makes an empty result an empty relation, which joins fold away
        # without running a job
        return F.broadcast(comp.filter(F.lit(bool(ids))))
    sym = pairs.select(F.col("a").alias("a"), F.col("b").alias("b")).unionByName(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    sym = sym.localCheckpoint()
    labels = (
        sym.select(F.col("a").alias("osmid"))
        .distinct()
        .withColumn("component", F.col("osmid"))
        .localCheckpoint()
    )
    for _ in range(max_iters):
        nbr_min = (
            sym.join(labels, sym.a == labels.osmid)
            .groupBy(F.col("b").alias("osmid"))
            .agg(F.min("component").alias("__nbr"))
        )
        l1 = labels.join(nbr_min, "osmid", "left").select(
            "osmid",
            F.least(F.col("component"), F.coalesce("__nbr", F.col("component"))).alias("component"),
            F.col("component").alias("__old"),
        )
        # pointer jump: component <- component(component)
        parent = l1.select(F.col("osmid").alias("__pid"), F.col("component").alias("__pcomp"))
        l2 = (
            l1.join(parent, l1.component == F.col("__pid"), "left")
            .select(
                "osmid",
                F.least(F.col("component"), F.coalesce("__pcomp", F.col("component"))).alias("component"),
                (F.col("component") != F.col("__old")).alias("__chg1"),
                (F.coalesce("__pcomp", F.col("component")) < F.col("component")).alias("__chg2"),
            )
            .localCheckpoint()
        )
        changed = l2.filter(F.col("__chg1") | F.col("__chg2")).count()
        labels = l2.drop("__chg1", "__chg2")
        if changed == 0:
            break
    return labels


def _kmeans_det(points: np.ndarray, k: int, seed: int = 42, iters: int = 50) -> np.ndarray:
    """Deterministic seeded k-means (Lloyd's + k-means++ init).

    Stands in for sklearn KMeans(random_state=42) (p3_functions.py:452);
    exact sklearn parity is impossible without sklearn -- divergence
    documented, determinism guaranteed."""
    rng = np.random.default_rng(seed)
    n = len(points)
    centers = [points[int(rng.integers(n))]]
    for _ in range(1, k):
        d2 = np.min(
            [np.sum((points - c) ** 2, axis=1) for c in centers], axis=0
        )
        tot = d2.sum()
        probs = d2 / tot if tot > 0 else np.full(n, 1.0 / n)
        centers.append(points[int(rng.choice(n, p=probs))])
    centers = np.array(centers)
    assign = np.zeros(n, dtype=int)
    for _ in range(iters):
        d = np.linalg.norm(points[:, None, :] - centers[None, :, :], axis=2)
        new_assign = np.argmin(d, axis=1)
        if (new_assign == assign).all() and _ > 0:
            break
        assign = new_assign
        for c in range(k):
            m = assign == c
            if m.any():
                centers[c] = points[m].mean(axis=0)
    return assign


def _cluster_fold(threshold: int):
    """The steps-5/7 fold over one component ``[lo, hi)`` -- array twin of
    ``tests/_twins.py::cluster_group_pandas``. Members are ordered by
    ``(highway_rank desc, osmid asc)``; a component of at least
    ``threshold`` members is split by :func:`_kmeans_det`. Each cluster's
    rep is its first member, its centroid the mean of its top-rank
    members; one record per member."""

    def _fold_cluster(d: dict, lo: int, hi: int) -> list[dict]:
        osmid = d["osmid"][lo:hi]
        rank = d["highway_rank"][lo:hi].astype(float)
        order = np.lexsort((osmid, -rank))
        osmid, rank = osmid[order], rank[order]
        pts = np.column_stack([d["x"][lo:hi][order], d["y"][lo:hi][order]]).astype(float)
        n = hi - lo
        k = 1 if n < threshold else n // threshold + 1
        assign = np.zeros(n, dtype=int) if k == 1 else _kmeans_det(pts, k)
        recs: list[dict] = []
        for c in range(k):
            m = assign == c
            if not m.any():
                continue
            r = rank[m]
            top = pts[m][r == (np.nan if np.isnan(r).all() else np.nanmax(r))]
            # 1-D column means sum pairwise, as the pandas Series mean does
            cx, cy = (float(top[:, 0].mean()), float(top[:, 1].mean())) if len(top) else (None, None)
            rep = int(osmid[m][0])
            recs.extend({"osmid": int(o), "merged_by": rep, "cx": cx, "cy": cy} for o in osmid[m])
        return recs

    return _fold_cluster


def cluster_nodes(
    nodes: DataFrame,
    spark: SparkSession,
    threshold: int = CLUSTER_THRESHOLD,
    pass2: bool = False,
) -> DataFrame:
    """Steps 5/7 (p3_functions.py:371-484): disk-overlap clustering.

    Adds/updates ``merged_by, cx, cy`` (cluster representative + merged
    centroid). Components >= threshold are split by seeded k-means with
    k = n // threshold + 1 (the reference's skew-breaker). In pass 2
    (``pass2=True``) nodes outside any multi-node component KEEP their
    pass-1 assignment (reference again=True semantics).
    """
    pairs = _overlap_pairs(nodes)
    comp = connected_components(pairs, spark)
    member = nodes.join(comp, "osmid", "left")

    in_comp = member.filter(F.col("component").isNotNull()).select(
        "osmid", "x", "y", "highway_rank", "component"
    )

    folded = grouped_map_batched(
        in_comp, ["component"], _cluster_fold(threshold),
        "osmid long, merged_by long, cx double, cy double",
    )
    out = member.drop("component").join(folded, "osmid", "left")
    if pass2:
        # keep pass-1 assignment where pass 2 found no multi-node component
        out = (
            out.withColumn("merged_by", F.coalesce(F.col("merged_by"), F.col("merged_by_p1")))
            .withColumn("cx", F.coalesce(F.col("cx"), F.col("cx_p1")))
            .withColumn("cy", F.coalesce(F.col("cy"), F.col("cy_p1")))
        )
    else:
        out = (
            out.withColumn("merged_by", F.coalesce(F.col("merged_by"), F.col("osmid")))
            .withColumn("cx", F.coalesce(F.col("cx"), F.col("x")))
            .withColumn("cy", F.coalesce(F.col("cy"), F.col("y")))
        )
    return out


# ------------------------------------------------------------------ step 6


def _split_fast(pdf: pd.DataFrame) -> list[dict]:
    """Vectorized step-6 refinement over polylines of >= 2 points: all
    candidate rows at once, with two ragged axes (segments-per-edge and
    disks-per-cluster) flattened by ``np.repeat`` row-index gathers and
    crossed at the pair level for the intersects-any-disk test. Element
    arithmetic, comparison order, per-row first-argmin, and the prefix-sum
    shape of ``pos`` are IDENTICAL to ``tests/_twins.py::split_rows_loop``
    -- the per-row reference twin -- so results are bit-equal (pinned by
    ``tests/test_plans.py::test_split_fast_matches_loop`` plus the
    q_split_in_buffers contract and the golden/parity suites)."""
    n = len(pdf)
    if n == 0:
        return []
    g = pdf["geometry"].to_numpy()
    m = np.fromiter((len(c) for c in g), dtype=np.int64, count=n)
    poff = np.concatenate(([0], np.cumsum(m)))
    fx = np.fromiter((p[0] for c in g for p in c), dtype=np.float64, count=poff[-1])
    fy = np.fromiter((p[1] for c in g for p in c), dtype=np.float64, count=poff[-1])
    first, last = poff[:-1], poff[1:] - 1
    ring = (fx[first] == fx[last]) & (fy[first] == fy[last])
    # disks, flattened (reference :538 endpoint-inside reject)
    dcnt = np.fromiter((len(d) for d in pdf["disks"]), dtype=np.int64, count=n)
    doff = np.concatenate(([0], np.cumsum(dcnt)))
    drid = np.repeat(np.arange(n), dcnt)
    ddx = np.fromiter((d["x"] for ds in pdf["disks"] for d in ds), dtype=np.float64, count=doff[-1])
    ddy = np.fromiter((d["y"] for ds in pdf["disks"] for d in ds), dtype=np.float64, count=doff[-1])
    ddr = np.fromiter((d["buf_r"] for ds in pdf["disks"] for d in ds), dtype=np.float64, count=doff[-1])
    in0 = geo.haversine_np(fy[first][drid], fx[first][drid], ddy, ddx) <= ddr
    in1 = geo.haversine_np(fy[last][drid], fx[last][drid], ddy, ddx) <= ddr
    bad = np.zeros(n, dtype=bool)
    np.logical_or.at(bad, drid, in0 | in1)
    # segments, flattened
    S = m - 1
    soff = np.concatenate(([0], np.cumsum(S)))
    srid = np.repeat(np.arange(n), S)
    spos = np.arange(soff[-1]) - np.repeat(soff[:-1], S)
    aidx = np.repeat(first, S) + spos
    sax, say = fx[aidx], fy[aidx]
    sbx, sby = fx[aidx + 1], fy[aidx + 1]
    # (segment x disk) pairs within each row: intersects-any-disk test
    P = S * dcnt
    pstart = np.concatenate(([0], np.cumsum(P)))
    prid = np.repeat(np.arange(n), P)
    ppos = np.arange(pstart[-1]) - np.repeat(pstart[:-1], P)
    ps_i = ppos % np.maximum(S[prid], 1)
    pd_i = ppos // np.maximum(S[prid], 1)
    sidx = soff[:-1][prid] + ps_i
    didx = doff[:-1][prid] + pd_i
    dseg = geo.point_segment_dist_np(
        ddy[didx], ddx[didx], say[sidx], sax[sidx], sby[sidx], sbx[sidx]
    )
    hit = np.zeros(n, dtype=bool)
    np.logical_or.at(hit, prid, dseg <= ddr[didx])
    # nearest polyline point to the cluster centroid (local-plane metric
    # anchored at the centroid latitude, as in the loop)
    px = pdf["ccx"].to_numpy(dtype=np.float64)[srid]
    py = pdf["ccy"].to_numpy(dtype=np.float64)[srid]
    kx = np.cos(np.radians(py)) * geo.M_PER_DEG
    ky = geo.M_PER_DEG
    apx, apy = (px - sax) * kx, (py - say) * ky
    abx, aby = (sbx - sax) * kx, (sby - say) * ky
    ab2 = abx * abx + aby * aby
    t = np.where(ab2 > 0, (apx * abx + apy * aby) / np.where(ab2 > 0, ab2, 1), 0.0)
    t = np.clip(t, 0.0, 1.0)
    qx, qy = sax + t * (sbx - sax), say + t * (sby - say)
    dist = np.sqrt((apx - t * abx) ** 2 + (apy - t * aby) ** 2)
    # per-row FIRST index of the minimum (np.argmin semantics); every row
    # here has >= 2 segments, so reduceat partitions the flat array exactly
    rmin = np.minimum.reduceat(dist, soff[:-1])
    cand = np.where(dist == rmin[srid], spos, soff[-1])
    si = np.minimum.reduceat(cand, soff[:-1])
    gsi = soff[:-1] + si
    sx, sy = qx[gsi], qy[gsi]
    at_end = (
        (np.abs(sx - fx[first]) < 1e-12) & (np.abs(sy - fy[first]) < 1e-12)
    ) | ((np.abs(sx - fx[last]) < 1e-12) & (np.abs(sy - fy[last]) < 1e-12))
    ok = ~ring & ~bad & hit & ~at_end
    seg_lens = geo.haversine_np(say, sax, sby, sbx)
    eids = pdf["eid"].to_numpy()
    mbs = pdf["merged_by"].to_numpy()
    rows = []
    for i in np.flatnonzero(ok):
        a, s_i = int(soff[i]), int(si[i])
        # np.sum over the same-length prefix slice reproduces the loop's
        # accumulation order exactly
        pos = float(np.sum(seg_lens[a : a + s_i]) + t[gsi[i]] * seg_lens[a + s_i])
        rows.append({"eid": int(eids[i]), "seg_i": s_i, "t": float(t[gsi[i]]),
                     "sx": float(sx[i]), "sy": float(sy[i]), "pos": pos,
                     "mb": int(mbs[i])})
    return rows


def split_edges_in_buffers(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Step 6 (p3_functions.py:486-578 + repair pass :1005-1072), single
    pass by design: collect ALL of an edge's split points, order them along
    the line, emit segments once. The reference's sequential multi-split
    repair disappears.

    A cluster's buffer is its member-disk set; an edge qualifies against a
    cluster iff it intersects any member disk, neither endpoint lies in any
    member disk, and the nearest point on the edge to the cluster centroid
    is not an endpoint. Split point = nearest polyline point to the
    centroid (reference ``nearest_points`` :539).

    Returns ``(edges_with_splits_applied, split_lists)``; the first piece
    keeps the original osmid, later pieces/nodes get
    ``SPLIT_ID_BASE + osmid*100 + k``. New node rows (with cluster-rep
    attributes, reference :565-570) come from :func:`buffer_split_nodes`
    applied to ``split_lists``.
    """
    clusters = nodes.groupBy("merged_by").agg(
        F.first("cx").alias("ccx"),
        F.first("cy").alias("ccy"),
        F.collect_list(F.struct("x", "y", "buf_r")).alias("disks"),
    )
    rmax = max(HIGHWAY_BUFFERS.values())
    res = h3idx.pick_res(2 * rmax)
    # ONE ROW PER DISK for the cell join (an exploded row must not carry
    # the whole cluster's disk array -- that is quadratic in cluster size),
    # and the disk-intersects-segment reject runs as a codegen'd column
    # expression so the Python refinement only ever sees true intersectors
    disk_cells = nodes.select(
        "merged_by",
        F.col("x").alias("__dx"), F.col("y").alias("__dy"), F.col("buf_r").alias("__dr"),
    ).withColumn(
        "cell",
        F.explode(
            F.array(*[
                h3idx.cell_col(F.col("__dy"), F.col("__dx"), res) + F.lit(o) for o in h3idx.ring_offsets(1)
            ])
        ),
    )
    eg = edges.select(F.col("osmid").alias("eid"), "geometry")
    from ..operators.spatial import cover_segment_cells, explode_segments

    segs = explode_segments(eg).withColumn(
        "cell",
        F.explode(cover_segment_cells(F.col("ax"), F.col("ay"), F.col("bx"), F.col("by"), res)),
    )
    hit = (
        segs.join(disk_cells, "cell")
        .filter(
            geo.point_segment_dist_m(
                F.col("__dy"), F.col("__dx"),
                F.col("ay"), F.col("ax"), F.col("by"), F.col("bx"),
            )
            <= F.col("__dr")
        )
        .select("eid", "merged_by")
        .dropDuplicates(["eid", "merged_by"])
    )
    cand = hit.join(eg.withColumnRenamed("osmid", "eid"), "eid").join(clusters, "merged_by")

    def find_splits(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            # degenerate (<2-point) geometries are skipped: a 1-point
            # "line" is a trivial ring (coords[0]==coords[-1], the
            # reference's :534 skip) and a 0-point one has nothing to
            # split -- routing them into the batch kernel would break
            # its ragged reduceat partitioning
            rows = _split_fast(pdf[pdf["geometry"].map(len) >= 2])
            yield pd.DataFrame(
                rows, columns=["eid", "seg_i", "t", "sx", "sy", "pos", "mb"]
            ) if rows else pd.DataFrame(
                {"eid": pd.Series(dtype="int64"), "seg_i": pd.Series(dtype="int64"),
                 "t": pd.Series(dtype="float64"), "sx": pd.Series(dtype="float64"),
                 "sy": pd.Series(dtype="float64"), "pos": pd.Series(dtype="float64"),
                 "mb": pd.Series(dtype="int64")}
            )

    splits = cand.mapInPandas(
        find_splits,
        schema="eid long, seg_i long, t double, sx double, sy double, pos double, mb long",
    ).dropDuplicates(["eid", "sx", "sy"])
    # consumed by BOTH the to_split inner join and the untouched anti join
    # (and by buffer_split_nodes downstream): lazily checkpoint so the
    # Python refinement kernel runs once per action tree, not per consumer
    splits = splits.localCheckpoint(eager=False)

    split_lists = splits.groupBy("eid").agg(
        F.array_sort(F.collect_list(F.struct("pos", "seg_i", "t", "sx", "sy", "mb"))).alias("sp")
    )
    to_split = edges.join(split_lists, edges.osmid == F.col("eid"), "inner").drop("eid")
    untouched = edges.join(split_lists, edges.osmid == F.col("eid"), "left_anti")

    cols = edges.columns
    schema = edges.schema

    def apply_splits(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # The piece walk is inherently sequential per edge (ordered split
        # points thread through the polyline), but it runs only over edges
        # WITH splits; the expensive part was materializing one pandas
        # Series copy per output piece. Instead: walk with plain arrays,
        # then build the output in three columnar steps (row-repeat take +
        # column assignment).
        for pdf in it:
            if not len(pdf):
                yield pdf.iloc[0:0][cols]
                continue
            geoms = pdf["geometry"].to_numpy()
            sps = pdf["sp"].to_numpy()
            osmids = pdf["osmid"].to_numpy()
            u_in = pdf["u"].to_numpy()
            v_in = pdf["v"].to_numpy()
            idx, g_out, l_out, u_out, v_out, o_out = [], [], [], [], [], []
            for i in range(len(pdf)):
                coords = [list(c) for c in geoms[i]]
                base = SPLIT_ID_BASE + int(osmids[i]) * 100
                # build piece coordinate lists by walking split points in order
                pieces = []
                cur = [coords[0]]
                spts = list(sps[i])
                k = 0
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
                    idx.append(i)
                    g_out.append(geoms[i])
                    l_out.append(float(pdf["length"].iat[i]))
                    u_out.append(int(u_in[i]))
                    v_out.append(int(v_in[i]))
                    o_out.append(int(osmids[i]))
                    continue
                node_id = base
                for j, pc in enumerate(pieces):
                    idx.append(i)
                    g_out.append(pc)
                    l_out.append(geo.polyline_length_m(np.array(pc)))
                    if j > 0:
                        u_out.append(node_id)
                        o_out.append(base + j)
                        node_id += 1
                    else:
                        u_out.append(int(u_in[i]))
                        o_out.append(int(osmids[i]))
                    v_out.append(node_id if j < len(pieces) - 1 else int(v_in[i]))
            if not idx:
                yield pdf.iloc[0:0][cols]
                continue
            out = pdf.iloc[idx][cols].reset_index(drop=True)
            out["geometry"] = pd.Series(g_out, dtype=object)
            out["length"] = l_out
            out["u"] = u_out
            out["v"] = v_out
            out["osmid"] = o_out
            yield out

    out_edges = untouched.unionByName(to_split.mapInPandas(apply_splits, schema=schema))
    return out_edges, split_lists


def buffer_split_nodes(split_lists: DataFrame, ref_nodes: DataFrame) -> DataFrame:
    """New nodes from step 6: k-th split of edge e -> node
    ``SPLIT_ID_BASE + e*100 + k`` at the split coordinate, inheriting
    highway_conn/highway_rank from the cluster rep that caused the split
    (reference copies the cluster node's row, :565-570)."""
    pts = split_lists.select(
        "eid",
        F.posexplode("sp").alias("k", "s"),
    ).select(
        (F.lit(SPLIT_ID_BASE) + F.col("eid") * 100 + F.col("k")).alias("osmid"),
        F.col("s.sx").alias("x"),
        F.col("s.sy").alias("y"),
        F.col("s.mb").alias("__mb"),
    )
    rep = ref_nodes.select(
        F.col("osmid").alias("__mb"),
        F.col("highway_conn").alias("__conn"),
        F.col("highway_rank").alias("__rank"),
    )
    return (
        pts.join(F.broadcast(rep), "__mb", "left")
        .select(
            "osmid", "x", "y",
            F.col("__conn").alias("highway_conn"),
            F.col("__rank").alias("highway_rank"),
            F.col("__mb").alias("merged_by_hint"),
        )
    )


# ------------------------------------------------------------------ step 8


def reassign_nodes(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Step 8 (p3_functions.py:580-652): remap u/v to cluster reps, build
    geom_linear (straight u'->v') and geom_reassigned (u' + trimmed middle
    + v', orientation by shorter haversine length), recompute length from
    geom_linear."""
    midx = F.broadcast(
        nodes.select(
            F.col("osmid").alias("__nid"),
            F.col("merged_by").alias("__mb"),
            F.col("cx").alias("__cx"),
            F.col("cy").alias("__cy"),
        )
    )
    e = (
        edges.join(midx, edges.u == F.col("__nid"), "left")
        .withColumn("new_u", F.coalesce("__mb", F.col("u")))
        .withColumn("u_cx", F.coalesce("__cx", F.element_at("geometry", 1)[0]))
        .withColumn("u_cy", F.coalesce("__cy", F.element_at("geometry", 1)[1]))
        .drop("__nid", "__mb", "__cx", "__cy")
        .join(midx, edges.v == F.col("__nid"), "left")
        .withColumn("new_v", F.coalesce("__mb", F.col("v")))
        .withColumn("v_cx", F.coalesce("__cx", F.element_at("geometry", -1)[0]))
        .withColumn("v_cy", F.coalesce("__cy", F.element_at("geometry", -1)[1]))
        .drop("__nid", "__mb", "__cx", "__cy")
    )
    in_cols = e.columns
    keep = [c for c in in_cols if c not in ("u_cx", "u_cy", "v_cx", "v_cy")]
    out_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in e.schema.fields if f.name in keep
    )
    schema = (
        f"{out_fields}, geom_linear array<array<double>>, "
        "geom_reassigned array<array<double>>"
    )

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            lin, rea, lens = _reassign_batch(pdf)
            pdf = pdf.assign(geom_linear=lin, geom_reassigned=rea)
            pdf["length"] = lens
            yield pdf[keep + ["geom_linear", "geom_reassigned"]]

    return e.mapInPandas(run, schema=schema)


def _reassign_batch(pdf: pd.DataFrame) -> tuple[list, list, list]:
    """Batch kernel for step 8 (all rows at once, ragged polylines
    flattened with the same ``np.repeat`` row-index gather as
    :func:`_split_fast`). Element arithmetic, comparison order, and per-row
    summation shape are IDENTICAL to ``tests/_twins.py::reassign_batch_loop``
    -- the per-row reference twin -- so outputs are bit-equal (pinned by
    ``tests/test_plans.py::test_reassign_batch_matches_loop`` and the
    q_reassign contract)."""
    n = len(pdf)
    if n == 0:
        return [], [], []
    g = pdf["geometry"].to_numpy()
    m = np.fromiter((len(c) for c in g), dtype=np.int64, count=n)
    off = np.concatenate(([0], np.cumsum(m)))
    fx = np.fromiter((p[0] for c in g for p in c), dtype=np.float64, count=off[-1])
    fy = np.fromiter((p[1] for c in g for p in c), dtype=np.float64, count=off[-1])
    u_px = pdf["u_cx"].to_numpy(dtype=np.float64)
    u_py = pdf["u_cy"].to_numpy(dtype=np.float64)
    v_px = pdf["v_cx"].to_numpy(dtype=np.float64)
    v_py = pdf["v_cy"].to_numpy(dtype=np.float64)
    # trim rule (reference :607-617, faithful elif order)
    case_a = (pdf["u"].to_numpy() == pdf["new_u"].to_numpy())
    case_b = ~case_a & (pdf["v"].to_numpy() == pdf["new_v"].to_numpy())
    s = off[:-1] + np.where(case_a, 1, 0)
    e_ = off[1:] - np.where(case_b, 1, 0)
    L = np.maximum(e_ - s, 0)
    tot = int(L.sum())
    rstart = np.concatenate(([0], np.cumsum(L)))[:-1]
    s2 = s.copy()
    e2 = s.copy()  # default empty mid (the loop's `if mid:` skip)
    if tot:
        mrid = np.repeat(np.arange(n), L)
        pos = np.arange(tot) - np.repeat(rstart, L)
        fidx = np.repeat(s, L) + pos
        mx, my = fx[fidx], fy[fidx]
        du = geo.haversine_np(my, mx, u_py[mrid], u_px[mrid])
        dv = geo.haversine_np(my, mx, v_py[mrid], v_px[mrid])
        nz = L > 0
        # per-row FIRST index of the minimum (np.argmin semantics): rows
        # with L==0 hold no flat elements, so reduceat over nz rows'
        # start offsets partitions the flat array exactly by row
        i1 = np.zeros(n, dtype=np.int64)
        i2 = np.zeros(n, dtype=np.int64)
        for dist, out in ((du, i1), (dv, i2)):
            rmin = np.empty(n)
            rmin[nz] = np.minimum.reduceat(dist, rstart[nz])
            cand = np.where(dist == rmin[mrid], pos, tot)
            out[nz] = np.minimum.reduceat(cand, rstart[nz])
        s2 = np.where(L > 0, s + i1, s)
        e2 = np.where(L > 0, s + i2 + 1, s)
    L2 = np.maximum(e2 - s2, 0)
    # assemble fwd = [u'] + mid + [v'] and rev = [u'] + reversed(mid) + [v']
    rows2 = L2 + 2
    tot2 = int(rows2.sum())
    frid = np.repeat(np.arange(n), rows2)
    f2start = np.concatenate(([0], np.cumsum(rows2)))
    fpos = np.arange(tot2) - np.repeat(f2start[:-1], rows2)
    is_u = fpos == 0
    is_v = fpos == (rows2 - 1)[frid]
    safe = np.clip(s2[frid] + fpos - 1, 0, max(len(fx) - 1, 0))
    safe_r = np.clip(s2[frid] + L2[frid] - fpos, 0, max(len(fx) - 1, 0))
    fwdx = np.where(is_u, u_px[frid], np.where(is_v, v_px[frid], fx[safe]))
    fwdy = np.where(is_u, u_py[frid], np.where(is_v, v_py[frid], fy[safe]))
    revx = np.where(is_u, u_px[frid], np.where(is_v, v_px[frid], fx[safe_r]))
    revy = np.where(is_u, u_py[frid], np.where(is_v, v_py[frid], fy[safe_r]))
    # consecutive-pair haversines within each row's slice (same kernel,
    # same element values as polyline_length_m's internal call)
    pair = frid[1:] == frid[:-1]
    seg_f = np.zeros(tot2 - 1 if tot2 else 0)
    seg_r = np.zeros(tot2 - 1 if tot2 else 0)
    if tot2 > 1:
        seg_f[pair] = geo.haversine_np(
            fwdy[:-1][pair], fwdx[:-1][pair], fwdy[1:][pair], fwdx[1:][pair]
        )
        seg_r[pair] = geo.haversine_np(
            revy[:-1][pair], revx[:-1][pair], revy[1:][pair], revx[1:][pair]
        )
    lens_all = geo.haversine_np(u_py, u_px, v_py, v_px)
    fwd_pts = np.stack([fwdx, fwdy], axis=1)
    rev_pts = np.stack([revx, revy], axis=1)
    lin, rea, lens = [], [], []
    for i in range(n):
        a, b = int(f2start[i]), int(f2start[i + 1])
        # np.sum over a same-length slice reproduces polyline_length_m's
        # accumulation order exactly (pairwise summation depends only on
        # element count)
        lf = float(np.sum(seg_f[a : b - 1]))
        lr = float(np.sum(seg_r[a : b - 1]))
        chosen = fwd_pts[a:b] if lf < lr else rev_pts[a:b]
        lin.append([[u_px[i], u_py[i]], [v_px[i], v_py[i]]])
        rea.append(chosen.tolist())
        lens.append(float(lens_all[i]))
    return lin, rea, lens
