"""End-to-end pipeline: enrichment (p2) -> simplification (p3) as one
lazy DataFrame program with explicit stage boundaries.

Mirrors the reference's runSimplification chain (runSimplification.py:38-46)
minus the network-I/O stage p1 (synthetic sources instead). Each stage can
be snapshotted via :mod:`..checkpoint` for resume; `metrics` collects the
per-step row counts the reference prints (p3_simplification.py:143-253).
"""

from __future__ import annotations

import functools
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import enrich, merge, simplify

NODE_TAG_COLS = [
    "highway", "crossing", "bicycle", "foot", "barrier", "lit", "width",
    "public_transport", "bicycle_parking",
]


def _stager(snap, prefix: str):
    """Stage-boundary materializer: every boundary always materializes.

    With a ``checkpoint.Snapshotter`` (the at-scale default: snapshots
    survive executor/driver loss and a restarted run SKIPS completed
    stages -- the closure is never invoked, so no upstream job runs),
    each boundary is a durable table + manifest commit. Without one
    (single-host fast path: tests, bench), it is a lazy
    ``localCheckpoint``, which truncates lineage but is forfeited on
    executor loss.
    """

    def bound(name: str, key: str, fn):
        if snap is not None:
            return snap.stage(f"{prefix}{name}", fn, key)
        # lazy: the boundary still materializes exactly once (first
        # consumer action) and truncates lineage, but skips the
        # standalone materialization job per stage -- the scale-4
        # flagship is scheduling-overhead-bound across ~12 barriers
        return fn().localCheckpoint(eager=False)

    return bound


def _laps(m: dict, prefix: str):
    """``lap(name)`` stores the seconds since the previous lap (or since
    this call) under ``m[prefix + name]``."""
    last = [time.time()]

    def lap(name: str) -> None:
        now = time.time()
        m[f"{prefix}{name}"] = round(now - last[0], 2)
        last[0] = now

    return lap


def run_enrichment(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    metrics: dict | None = None,
    snap=None,
) -> tuple[DataFrame, DataFrame]:
    """p2_enrichData.main (:706-756) over the synthetic-city tables.

    Stage boundaries are materialized (durable :mod:`..checkpoint`
    snapshots when ``snap`` is given -- the at-scale default; otherwise
    localCheckpoint): each operator's plan stays small instead of
    accumulating a hundreds-of-columns Catalyst tree that re-optimizes at
    every action. Stage bodies are closures so a resumed run never
    executes the plans of completed stages.
    """
    lap = _laps(metrics if metrics is not None else {}, "t_enrich_")
    bound = _stager(snap, "enrich_")

    edges0 = tables["edges"].withColumn("edge_id", F.col("osmid"))
    edges0 = edges0.withColumn("length", enrich.polyline_length_col(F.col("geometry")))
    nodes = tables["nodes"].localCheckpoint()

    edges = bound(
        "landuse", "edge_id",
        lambda: enrich.landuse_ratio_all(
            edges0,
            [
                ("green", tables["landuse_green"]),
                ("retail", tables["landuse_retail"]),
                ("building", tables["landuse_building"]),
            ],
        ),
    )
    lap("landuse")

    # bike-edge labeling + cycleway cascade are pure column logic / self-
    # joins on the checkpointed landuse output -- keep them lazy and fold
    # them into the gradient-stage materialization. add_gradient yields
    # (nodes, edges); cached so the two stage closures share one build.
    @functools.cache
    def _gradient():
        e = enrich.add_cycle_paths(enrich.improve_bike_edges(edges))
        return enrich.add_gradient(nodes, e, tables["elevations"])

    nodes2 = bound(
        "signal_nodes", "osmid",
        lambda: enrich.add_traffic_lights(_gradient()[0], tables["traffic_signals"]),
    )
    edges = bound(
        "gradient_edges", "edge_id",
        lambda: enrich.add_cycle_path_width(_gradient()[1], tables["cycle_path_widths"]),
    )
    lap("gradient_signals")
    edges = bound(
        "amenity_edges", "edge_id",
        lambda: enrich.add_bicycle_parking(edges, tables["bike_amenities"]),
    )
    lap("amenities")
    edges = bound(
        "pt_edges", "edge_id",
        lambda: enrich.add_pt_stops(edges, tables["pt_stops"]),
    )
    lap("pt_stops")
    _idxs = functools.cache(lambda: enrich.update_idxs(nodes2, edges))

    out_nodes = bound("nodes", "osmid", lambda: _idxs()[0])
    out_edges = bound("edges", "osmid", lambda: _idxs()[1])
    lap("idxs")
    return out_nodes, out_edges


def run_simplification(
    spark: SparkSession,
    nodes: DataFrame,
    edges: DataFrame,
    cluster_threshold: int = simplify.CLUSTER_THRESHOLD,
    metrics: dict | None = None,
    snap=None,
) -> tuple[DataFrame, DataFrame]:
    """p3 steps 1-13. Returns (final_nodes, final_edges).

    With ``snap`` each step boundary is a durable snapshot; a restarted
    run resumes after the last committed step (the stage closures are
    never invoked for completed steps, so no upstream jobs run); without
    it each boundary is a lazy ``localCheckpoint``.
    """
    m = metrics if metrics is not None else {}
    lap = _laps(m, "t_")
    bound = _stager(snap, "p3_")

    # step 1: split curves
    edges = bound("s1_edges", "osmid", lambda: simplify.split_curves(edges))
    nodes = nodes.unionByName(simplify.curve_split_nodes(edges, []), allowMissingColumns=True)
    if metrics is not None:
        m["step1_edges"] = edges.count()
        m["step1_nodes"] = nodes.count()
    lap("step1")

    # step 2: ranks
    edges = simplify.add_highway_rank(edges)

    # steps 3-5: node importance -> buffers -> cluster pass 1
    n3 = nodes
    nodes = bound(
        "s5_nodes", "osmid",
        lambda: simplify.cluster_nodes(
            simplify.add_buffer_radius(simplify.node_importance(n3, edges)),
            spark, cluster_threshold,
        ),
    )
    if metrics is not None:
        m["step5_clusters"] = nodes.select("merged_by").distinct().count()
    lap("step5")

    # step 6: split edges crossing foreign cluster buffers.
    # split_edges_in_buffers yields (edges, split_lists); cached so the
    # two stage closures share one build on a fresh run and NEITHER runs
    # on resume.
    e6, n5 = edges, nodes

    @functools.cache
    def _splits():
        e, sl = simplify.split_edges_in_buffers(e6, n5)
        return e, sl.localCheckpoint()

    def _s6_nodes():
        sp_nodes = (
            simplify.buffer_split_nodes(_splits()[1], n5)
            .withColumn("merged_by", F.col("merged_by_hint"))
            .drop("merged_by_hint")
            .withColumn(
                "buf_r",
                simplify._map_lookup(F.col("highway_conn"), simplify.HIGHWAY_BUFFERS, simplify.BUFFER_DEFAULT),
            )
            # split nodes: cx/cy provisional = own coords until pass 2
            .withColumn("cx", F.col("x"))
            .withColumn("cy", F.col("y"))
        )
        return n5.unionByName(sp_nodes, allowMissingColumns=True)

    edges = bound("s6_edges", "osmid", lambda: _splits()[0])
    # pass-2 clustering runs several actions over this union; without the
    # boundary each one re-executes the step-6 split lineage
    nodes = bound("s6_nodes", "osmid", _s6_nodes)
    if metrics is not None:
        m["step6_edges"] = edges.count()
        m["step6_nodes"] = nodes.count()
    lap("step6")

    # step 7: cluster pass 2 (same buffers, reference BUFFERS_2 == _1)
    n6 = nodes

    def _s7():
        n = (
            n6.withColumnRenamed("merged_by", "merged_by_p1")
            .withColumnRenamed("cx", "cx_p1")
            .withColumnRenamed("cy", "cy_p1")
        )
        n = simplify.cluster_nodes(spark=spark, nodes=n, threshold=cluster_threshold, pass2=True)
        return n.drop("merged_by_p1", "cx_p1", "cy_p1")

    nodes = bound("s7_nodes", "osmid", _s7)
    if metrics is not None:
        m["step7_clusters"] = nodes.select("merged_by").distinct().count()
    lap("step7")

    # step 8: reassign edges to cluster reps
    e7, n7 = edges, nodes
    edges = bound("s8_edges", "osmid", lambda: simplify.reassign_nodes(e7, n7))
    lap("step8")

    # step 9: degree-2 contraction is DISABLED in the reference
    # (p3_simplification.py:289-294) -- see operators/contraction.py for the
    # gated implementation.

    # step 10: merge nodes
    final_nodes = merge.merge_nodes(nodes)
    if metrics is not None:
        m["step10_nodes"] = final_nodes.count()
    lap("step10")

    # step 11-13: merge parallel edges, fold tags, assemble, finalize
    e8 = edges
    final_edges = bound(
        "final_edges", "g_id",
        lambda: merge.finalize_edges(merge.merge_edges(e8.withColumn("osmid_i", F.col("osmid")))),
    )
    if metrics is not None:
        m["step12_edges"] = final_edges.count()
    lap("step11_13")
    if metrics is not None:
        for mode in ("walk", "bike", "motorized"):
            m[f"edges_{mode}"] = merge.edges_for_modes(final_edges, [mode]).count()
    return final_nodes, final_edges


def run_full(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    metrics: dict | None = None,
    snap=None,
):
    nodes, edges = run_enrichment(spark, tables, metrics=metrics, snap=snap)
    return run_simplification(spark, nodes, edges, metrics=metrics, snap=snap)
