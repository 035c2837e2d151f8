"""Physical-plan shape regressions: the optimizations the engine relies on
at 100 TB must be visible in .explain() at any scale -- filter pushdown to
the parquet scan, column pruning, broadcast of small sides, and no
accidental cartesian products on the hot paths."""

import pytest

from osmnetfusion_spark import driver_contract as DC

SF = "/root/testdata/sf0.001"


def _explain(df) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _plan(spark, name: str) -> str:
    return _explain(DC.QUERIES[name][0](spark, SF))


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(spark, "q_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning_on_knn_scan(spark, monkeypatch):
    # the kNN snap must read ONLY the key column from documents -- lat/lon
    # are derived; reading text/html-sized columns at 10^12 rows would sink
    # it. The segment side is read by the index collect, not by the plan.
    frame = type(spark.range(1))
    collected = []
    to_arrow = frame.toArrow
    monkeypatch.setattr(
        frame, "toArrow", lambda df: collected.append(_explain(df)) or to_arrow(df)
    )
    plan = _plan(spark, "q_knn_snap")
    assert "ReadSchema: struct<doc_id:bigint>" in plan
    assert len(collected) == 1
    assert "ReadSchema: struct<s_suppkey:bigint>" in collected[0]


def test_knn_build_side_broadcast(spark):
    # the segment index ships as a broadcast variable: the snap is one
    # Arrow kernel over the points, with no join, aggregate or cartesian
    plan = _plan(spark, "q_knn_snap")
    assert "MapInArrow" in plan
    assert "Join" not in plan and "Aggregate" not in plan
    assert "CartesianProduct" not in plan


def test_dim_joins_broadcast(spark):
    plan = _plan(spark, "q_region_rollup")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_partial_aggregation_before_shuffle(spark):
    plan = _plan(spark, "q_pricing_summary")
    # two HashAggregates (partial + final) around one exchange: map-side
    # combine is what keeps high-cardinality rollups shuffle-light
    assert plan.count("HashAggregate") >= 2


def test_salted_fold_two_phases(spark):
    plan = _plan(spark, "q_tile_edges_salted")
    # phase 1 groups by (tile, salt), phase 2 by tile: two agg exchanges
    assert "xxhash64" in plan and "pmod" in plan


def test_radius_join_is_cell_local(spark):
    # J6: 200 m radius join must be an equi-join on the cover cell, never
    # a cartesian point x segment product
    plan = _plan(spark, "q_amenity_radius")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_intersection_length_is_cell_local(spark):
    plan = _plan(spark, "q_intersection_length")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_snap_carries_coords_no_tile_rejoin(spark):
    # the kNN fold carries lat/lon (spatial carry), so tile_edge_density
    # must take the no-join branch -- a re-join of the page corpus on url
    # is a second full-table shuffle at web scale
    from osmnetfusion_spark import synth
    from osmnetfusion_spark.operators import spatial
    from osmnetfusion_spark.plans import pages as P
    from osmnetfusion_spark.plans import tiles as T

    pg = P.dedupe_latest(synth.pages(spark, 500))
    edges = spark.createDataFrame(synth.synthetic_city(1)["edges"]).withColumnRenamed(
        "osmid", "edge_id"
    )
    segs = spatial.explode_segments(edges).select(
        "edge_id", "seg_idx", "ax", "ay", "bx", "by"
    )
    snap = P.snap_pages_to_edges(pg, segs, 200.0)
    assert "lat" in snap.columns and "lon" in snap.columns
    ted = T.tile_edge_density(snap, pg, segs)
    plan = ted._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # the only join allowed is the density left-join on tile_id; no join
    # keyed on url may appear anywhere in the tiling plan
    import re

    join_keys = re.findall(r"Join.*?\[(.*?)\]", plan)
    assert not any("url" in k for k in join_keys), join_keys


# Genuinely iterative ops with no single-statement SQL twin: the driver
# records a rows-only check; the strong gate is a sequential twin in
# pytest (test_textstats_bpe.py). Keep this list EXPLICIT so a missing
# oracle is always a conscious decision, never an accident.
ROWS_ONLY_QUERIES = {"q_bpe_merges"}


def test_registry_integrity():
    # every contract query carries a DuckDB oracle twin (the driver's
    # correctness gate) unless explicitly registered as rows-only
    for name, (fn, sql) in DC.QUERIES.items():
        assert callable(fn), name
        if name in ROWS_ONLY_QUERIES:
            assert sql is None, f"{name} gained an oracle -- unlist it"
            continue
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_broadcast_guard_blocks_large_build(spark, tmp_path, monkeypatch):
    # a radius join claiming broadcast_build=True must NOT get a broadcast
    # when the build side's source files exceed the guard threshold -- an
    # accidental planet-scale broadcast would OOM every executor
    from osmnetfusion_spark.operators import spatial as SP

    segs = DC.supplier_segments(spark, SF)
    path = str(tmp_path / "segs.parquet")
    segs.write.mode("overwrite").parquet(path)
    file_segs = spark.read.parquet(path)

    def plan_of(df):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )

    pts = DC.doc_points(spark, SF).select("doc_id", "lat", "lon")
    # small file, default guard: hint honored
    df = SP.radius_join_segments(
        pts, file_segs, radius_m=100.0, point_id="doc_id", seg_id="edge_id"
    )
    assert "BroadcastHashJoin" in plan_of(df)
    # same file "too large": hint dropped, no explicit broadcast of the build
    monkeypatch.setattr(SP, "BROADCAST_GUARD_BYTES", 1)
    df2 = SP.radius_join_segments(
        pts, file_segs, radius_m=100.0, point_id="doc_id", seg_id="edge_id"
    )
    assert "ResolvedHint" not in df2._jdf.queryExecution().analyzed().toString()


def test_jaccard_no_cartesian(spark):
    # near-dup candidates must come from the shared-shingle equi-join --
    # a block-product or cartesian plan is a 100 TB scale-killer
    plan = _plan(spark, "q_jaccard_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_jaccard_shingle_kernel_is_arrow(spark):
    # the shingle kernel must be the Arrow-batched UDF, not the
    # interpreted higher-order-function column expression (~15x slower).
    # (q_jaccard_pairs' own plan is truncated by its lazy checkpoint, so
    # assert on the kernel projection directly.)
    import pyspark.sql.functions as F

    from osmnetfusion_spark.operators import dedup

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        dedup.shingle_hashes_fast(3)(F.col("text")).alias("sh")
    )
    plan = d._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "ArrowEvalPython" in plan


def test_pbf_parse_is_distributed(spark):
    # blob decode must be a mapInPandas over the binary column -- no
    # collect-to-driver anywhere in the plan
    plan = _plan(spark, "q_pbf_roundtrip")
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan


def test_contamination_is_broadcast_probe(spark):
    # benchmark shingles broadcast; corpus side never reaches a cartesian
    # or a sort-merge over the full shingle explode
    plan = _plan(spark, "q_contamination")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_vocab_topk_partial_agg_and_topk(spark):
    # hot stopword keys must be absorbed map-side (partial + final
    # HashAggregate) and the top-k must be TakeOrdered, not a full sort
    plan = _plan(spark, "q_vocab_topk")
    assert plan.count("HashAggregate") >= 2
    assert "TakeOrderedAndProject" in plan


def test_multitable_lsh_is_bucketed(spark):
    # 3-table LSH: composite-bucket equi-join, queries broadcast; a
    # cartesian over corpus x queries would defeat the whole operator
    plan = _plan(spark, "q_ann_lsh_multitable")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_split_in_buffers_is_cell_local(spark):
    # G4: edge x cluster-disk candidate generation must be the cell
    # equi-join, never a cartesian edge x node product
    plan = _plan(spark, "q_split_in_buffers")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" in plan  # the split refinement is Arrow-batched


def test_reassign_is_broadcast_remap(spark):
    # G5/J14: the node->rep map must broadcast (it is cluster-count sized)
    plan = _plan(spark, "q_reassign")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_merge_nodes_is_grouped_map(spark):
    # G6: one shuffle on merged_by into an Arrow grouped-map fold
    plan = _plan(spark, "q_merge_nodes")
    assert "FlatMapGroupsInPandas" in plan or "MapInPandas" in plan
    assert "CartesianProduct" not in plan


def test_reassign_batch_matches_loop():
    """The vectorized step-8 kernel must be bit-equal to its per-row
    reference twin across every trim branch, polyline shape, and the
    empty-mid (i1 > i2) slice."""
    import numpy as np
    import pandas as pd

    from _twins import reassign_batch_loop
    from osmnetfusion_spark.plans.simplify import _reassign_batch

    rng = np.random.RandomState(42)
    rows = []
    for i in range(400):
        npts = int(rng.randint(2, 9))
        base_x = 11.5 + rng.rand() * 0.2
        base_y = 48.1 + rng.rand() * 0.2
        geom = [
            [base_x + rng.randn() * 1e-3, base_y + rng.randn() * 1e-3]
            for _ in range(npts)
        ]
        u, v = 1000 + i, 2000 + i
        branch = i % 4
        new_u = u if branch in (0, 3) else 9000 + i      # A keeps u
        new_v = v if branch in (1, 3) else 9500 + i      # B keeps v
        # cluster centroid (or endpoint coords when unmerged)
        u_c = geom[0] if new_u == u else [base_x + rng.randn() * 1e-3,
                                          base_y + rng.randn() * 1e-3]
        v_c = geom[-1] if new_v == v else [base_x + rng.randn() * 1e-3,
                                           base_y + rng.randn() * 1e-3]
        rows.append(
            dict(geometry=geom, u=u, v=v, new_u=new_u, new_v=new_v,
                 u_cx=u_c[0], u_cy=u_c[1], v_cx=v_c[0], v_cy=v_c[1])
        )
    pdf = pd.DataFrame(rows)
    lin_v, rea_v, len_v = _reassign_batch(pdf)
    lin_l, rea_l, len_l = reassign_batch_loop(pdf)
    assert lin_v == lin_l
    assert rea_v == rea_l          # bit-equal floats, list == is exact
    assert len_v == len_l
    # the vector must contain empty-after-trim and multi-point cases
    n_short = sum(1 for r in rea_v if len(r) == 2)
    n_long = sum(1 for r in rea_v if len(r) > 3)
    assert n_short > 0 and n_long > 0


def test_reassign_batch_empty():
    import pandas as pd

    from osmnetfusion_spark.plans.simplify import _reassign_batch

    pdf = pd.DataFrame(
        columns=["geometry", "u", "v", "new_u", "new_v",
                 "u_cx", "u_cy", "v_cx", "v_cy"]
    )
    assert _reassign_batch(pdf) == ([], [], [])


def test_split_fast_matches_loop():
    """The vectorized split refinement must be bit-equal to its per-row
    reference twin across rings, endpoint-inside rejects, no-hit rejects,
    at-end rejects, and accepted splits on 2-point and multi-point
    geometries."""
    import numpy as np
    import pandas as pd

    from _twins import split_rows_loop
    from osmnetfusion_spark.plans.simplify import _split_fast

    rng = np.random.RandomState(7)
    rows = []
    for i in range(300):
        npts = int(rng.randint(2, 9))
        bx, by = 11.5 + rng.rand() * 0.1, 48.1 + rng.rand() * 0.1
        geom = [[bx + j * 1e-3 + rng.randn() * 1e-4,
                 by + rng.randn() * 1e-4] for j in range(npts)]
        if i % 7 == 0:
            geom[-1] = list(geom[0])  # linear ring
        nd = int(rng.randint(1, 5))
        disks = []
        for _ in range(nd):
            # mix of disks near the middle (hits), near endpoints
            # (endpoint-inside rejects), and far away (no-hit rejects)
            mode = rng.randint(3)
            if mode == 0:
                # middle of the polyline (a vertex, or the midpoint of
                # the middle segment when the point count is even)
                a, b = geom[(npts - 1) // 2], geom[npts // 2]
                cx, cy = (a[0] + b[0]) / 2, (a[1] + b[1]) / 2
            elif mode == 1:
                cx, cy = geom[0]
            else:
                cx, cy = bx + 0.05, by + 0.05
            disks.append({"x": cx + rng.randn() * 2e-4,
                          "y": cy + rng.randn() * 2e-4,
                          "buf_r": float(rng.uniform(5, 40))})
        rows.append(dict(
            eid=i, merged_by=10_000 + i, geometry=geom, disks=disks,
            ccx=bx + rng.randn() * 1e-3, ccy=by + rng.randn() * 1e-3,
        ))
    pdf = pd.DataFrame(rows)
    got = _split_fast(pdf)
    want = split_rows_loop(pdf)
    assert got == want          # same dicts, same order, bit-equal floats
    assert 10 < len(got) < 300  # accepts AND rejects both exercised
    two_pt = set(pdf.eid[pdf.geometry.map(len) == 2])
    assert 0 < sum(r["eid"] in two_pt for r in got) < len(two_pt)
