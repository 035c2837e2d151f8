"""End-to-end simplification pipeline: motif coverage + determinism.

The synthetic city (synth.synthetic_city) contains every motif FIXTURES.md
requires; these tests assert each one actually exercises its code path and
that the pipeline output is invariant to parallelism (scaling criterion).
"""

import pytest
from pyspark.sql import functions as F

from osmnetfusion_spark import synth
from osmnetfusion_spark.plans import merge, pipeline, simplify


@pytest.fixture(scope="module")
def result(spark):
    city = synth.synthetic_city(1)
    tables = synth.city_to_spark(spark, city)
    metrics = {}
    nodes, edges = pipeline.run_full(spark, tables, metrics)
    return city, metrics, nodes.localCheckpoint(), edges


def test_counts_simplify(result):
    city, m, nodes, edges = result
    assert m["step1_edges"] > len(city["edges"])  # curve split added segments
    assert m["step5_clusters"] < m["step1_nodes"]  # clustering contracted
    assert m["step6_edges"] >= m["step1_edges"]  # buffer splits only add
    assert m["step10_nodes"] == m["step7_clusters"]
    assert 0 < m["step12_edges"] < m["step6_edges"]  # parallel edges merged


def test_curve_split_motif(result):
    city, m, nodes, edges = result
    # the curved road produced sub-edges in the curve id namespace
    curve_rows = edges.filter(
        F.col("l_id").contains(str(simplify.CURVE_ID_BASE // 100))
    )
    assert m["step1_edges"] - len(city["edges"]) >= 2


def test_dense_cluster_kmeans(result):
    city, m, nodes, edges = result
    # 56-node blob + grid node exceeds threshold 50 -> k-means split into
    # >= 2 clusters; without the split they'd be one (diff >= 1)
    dense_ids = set(city["nodes"].osmid[city["nodes"].osmid >= 900_000])
    assert len(dense_ids) == 56


def test_dual_carriageway_merges(result):
    city, m, nodes, edges = result
    # somewhere a Link produced both directions: one UV (g_reversed=false)
    # and one VU (g_reversed=true) row over the same unordered pair
    pairs = edges.select(
        F.least("g_u", "g_v").alias("a"), F.greatest("g_u", "g_v").alias("b"), "g_reversed"
    )
    both = (
        pairs.groupBy("a", "b")
        .agg(F.countDistinct("g_reversed").alias("dirs"))
        .filter(F.col("dirs") == 2)
        .count()
    )
    assert both > 0


def test_merged_tag_dictionaries_sorted(result):
    _, _, nodes, edges = result
    rows = edges.select("l_highway", "l_id").collect()
    import ast

    saw_multi = False
    for r in rows:
        ids = ast.literal_eval(r.l_id)
        assert ids == sorted(set(ids))
        hw = ast.literal_eval(r.l_highway)
        assert hw == sorted(set(hw))
        saw_multi = saw_multi or len(ids) > 1
    assert saw_multi  # merging actually folded multiple source edges


def test_node_output_schema(result):
    _, _, nodes, _ = result
    assert set(nodes.columns) == {
        "g_id", "g_x", "g_y", "g_infra", "g_crossing", "g_signals",
        "l_id", "l_osmid", "l_hw_conn", "l_hw_rank",
    }
    assert nodes.filter(F.col("g_signals")).count() > 0  # signal motif survived


def test_mode_filter(result):
    _, _, _, edges = result
    walk = merge.edges_for_modes(edges, ["walk"]).count()
    all_m = merge.edges_for_modes(edges, ["walk", "bike", "motorized"]).count()
    assert 0 < walk <= all_m


def test_deterministic_across_parallelism(spark, result):
    """Same city, inputs in 1 partition vs the session's 8 -> byte-identical
    output (scaling criterion)."""
    _, _, _, edges8 = result
    city = synth.synthetic_city(1)
    tables = {
        k: spark.createDataFrame(v).repartition(1) for k, v in city.items()
    }
    _, edges1 = pipeline.run_full(spark, tables)
    a = sorted(map(str, edges8.drop("g_geo_rea", "g_geo_lin").collect()))
    b = sorted(map(str, edges1.drop("g_geo_rea", "g_geo_lin").collect()))
    assert a == b


def test_cc_distributed_fallback_matches_driver_path(spark, monkeypatch):
    """``driver_limit=0`` sends the contracted graph through
    ``_cc_iterative``'s distributed label propagation instead of the
    driver union-find; both must give the same (osmid, component) set."""
    import inspect

    city = synth.synthetic_city(1)
    edges = simplify.add_highway_rank(spark.createDataFrame(city["edges"]))
    nodes = simplify.add_buffer_radius(
        simplify.node_importance(spark.createDataFrame(city["nodes"]), edges)
    )
    pairs = simplify._overlap_pairs(nodes).localCheckpoint()
    want = {tuple(r) for r in simplify.connected_components(pairs, spark).collect()}

    real = simplify._cc_iterative
    seen = []

    def spy(*args, **kwargs):
        call = inspect.signature(real).bind(*args, **kwargs)
        call.apply_defaults()
        seen.append((call.arguments["pairs"].count(), call.arguments["driver_limit"]))
        return real(*args, **kwargs)

    monkeypatch.setattr(simplify, "_cc_iterative", spy)
    # block_steps=0: one join cell per block, so pairs cross blocks and
    # the contracted graph is not empty (at the default no scale-1 pair
    # crosses a block)
    got = {
        tuple(r)
        for r in simplify.connected_components(
            pairs, spark, block_steps=0, driver_limit=0
        ).collect()
    }
    # the fallback ran, and on more pairs than it may solve on the driver
    assert seen and all(n > limit for n, limit in seen)
    assert got == want
    assert len({c for _, c in want}) < len(want)  # real multi-node components


def test_durable_fold_runs_once_per_stage(spark, tmp_path, monkeypatch):
    """A durable run emits each step-11 link once: the g_id dense index
    pins the fold output before its range shuffle, so neither the
    sampling job nor the shuffle re-runs the fold. The same pass pins the
    Spark jobs of the two enrich snap stages, counted per stage with a
    job group."""
    from _udfcount import udf_counts
    from osmnetfusion_spark.checkpoint import Snapshotter

    sc = spark.sparkContext
    stage = Snapshotter.stage

    def grouped_stage(self, name, df_fn, lineage_key=None):
        sc.setJobGroup(f"fold-once:{name}", name)
        try:
            return stage(self, name, df_fn, lineage_key)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    monkeypatch.setattr(Snapshotter, "stage", grouped_stage)
    tables = synth.city_to_spark(spark, synth.synthetic_city(1))
    snap = Snapshotter(spark, str(tmp_path / "wh"))
    counts = udf_counts(spark, monkeypatch)
    pipeline.run_full(spark, tables, snap=snap)
    rows = snap.manifest["stages"]["p3_final_edges"]["rows"]
    assert rows > 0
    assert counts("_fold_group_arrays")[1] == rows

    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = {
        s: len(sc.statusTracker().getJobIdsForGroup(f"fold-once:{s}"))
        for s in ("enrich_amenity_edges", "enrich_pt_edges")
    }
    # with the SQL struct-min snap these stages ran 9 and 7 jobs
    assert jobs == {"enrich_amenity_edges": 8, "enrich_pt_edges": 5}
