"""Pin the step-10 and steps-5/7 array folds to their original pandas folds.

`merge._fold_node_group` and `simplify._cluster_fold` replaced per-group
pandas folds (kept as `tests/_twins.py::merge_node_group_pandas` /
`cluster_group_pandas`); every row Spark stores from them must be equal.
Both sides are compared after the Arrow boundary, as in
`test_merge_cv_equivalence` for step 11.
"""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd
import pytest
from pyspark import cloudpickle
from pyspark.sql.types import DataType

import _twins
from _twins import cluster_group_pandas, merge_node_group_pandas
from osmnetfusion_spark import synth
from osmnetfusion_spark.operators.groupedmap import fold_bodies
from osmnetfusion_spark.plans import merge, simplify

CLUSTER_SCHEMA = "osmid long, merged_by long, cx double, cy double"


def _stored(spark, chunks: list[pd.DataFrame], schema: str, key: str) -> list:
    """The rows Spark stores for output chunks crossing the Arrow boundary
    through ``mapInPandas`` with ``schema``, sorted by ``key``."""

    def emit(it):
        for _ in it:
            pass
        yield from chunks

    rows = spark.range(1, numPartitions=1).mapInPandas(emit, schema).collect()
    return sorted(rows, key=lambda r: r[key])


def _both(spark, pdf, keys, pandas_fold, array_fold, schema, key):
    """(pandas-fold rows, array-fold rows) as Spark stores them."""
    pdf = pdf.sort_values(keys, kind="stable").reset_index(drop=True)
    old = [pandas_fold(g.reset_index(drop=True)) for _, g in pdf.groupby(keys, sort=False)]
    new = list(fold_bodies(iter([pdf]), keys, array_fold, DataType.fromDDL(schema).fieldNames()))
    return _stored(spark, old, schema, key), _stored(spark, new, schema, key)


def _assert_equal(old, new):
    assert old and len(old) == len(new)
    for c in old[0].asDict():
        o, n = [r[c] for r in old], [r[c] for r in new]
        assert o == n, f"column {c} differs: {o} vs {n}"


def _nodes() -> pd.DataFrame:
    nan = float("nan")
    rows = [
        # self-rep ranked below a NaN-free and a NaN-rank member; None and
        # '' in highway/crossing; old_osmid as a list, a "[..]" string, NaN
        (100, 100, 7.0, 1.0, 2.0, "residential", "traffic_signals", [5, 6], "residential"),
        (101, 100, 9.0, 1.1, 2.1, None, None, "[7, 8]", "primary,residential"),
        (102, 100, nan, 1.2, 2.2, "", "crossing", nan, None),
        # no self-rep, rank tie: the smaller osmid represents
        (202, 200, 5.0, 3.2, 4.2, "footway", "", 9, "path"),
        (201, 200, 5.0, 3.1, 4.1, "path", None, nan, "residential,footway"),
        # one row, NaN rank, nothing set: l_osmid is NULL
        (300, 300, nan, 5.0, 6.0, None, None, nan, None),
        # rank tie with the self-rep second by osmid
        (401, 400, 8.0, 7.1, 8.1, "crossing", "traffic_signals", "[11]", "service"),
        (400, 400, 8.0, 7.0, 8.0, "residential", "crossing", [12, 13], "residential"),
    ]
    return pd.DataFrame(
        rows,
        columns=[
            "osmid", "merged_by", "highway_rank", "cx", "cy", "highway", "crossing",
            "old_osmid", "highway_conn",
        ],
    )


@pytest.mark.parametrize("with_old_osmid", [True, False])
def test_node_fold_matches_pandas_fold(spark, with_old_osmid):
    pdf = _nodes() if with_old_osmid else _nodes().drop(columns="old_osmid")
    old, new = _both(
        spark, pdf, ["merged_by"], merge_node_group_pandas, merge._fold_node_group,
        merge.NODE_OUT_SCHEMA, "g_id",
    )
    _assert_equal(old, new)
    assert [r.g_id for r in new] == [100, 200, 300, 400]
    assert (new[1].g_x, new[3].g_x) == (3.1, 7.0)  # the reps
    assert (new[2].l_osmid is None) and (new[0].l_osmid is not None) == with_old_osmid


def _components(threshold: int) -> pd.DataFrame:
    rng = np.random.default_rng(7)
    nan = float("nan")
    rows = [
        # below threshold, rank tie
        (11, 0.10, 0.10, 7.0, 1), (10, 0.11, 0.10, 7.0, 1),
        # below threshold, one NaN rank
        (20, 0.20, 0.20, nan, 2), (21, 0.21, 0.20, 5.0, 2), (22, 0.22, 0.21, 9.0, 2),
        # all ranks NaN: no top-rank member, the centroid is NULL
        (30, 0.30, 0.30, nan, 3), (31, 0.31, 0.30, nan, 3),
    ]
    # exactly the threshold: k-means with k = 2
    rows += [(400 + i, 0.4 + 0.001 * i, 0.4, 6.0, 4) for i in range(threshold)]
    # far above the threshold, mostly tied ranks, so k-means clusters and
    # their top-rank sets hold more than 8 members
    for i in range(4 * threshold + 3):
        x, y = rng.normal(0.5, 0.002, 2)
        rows.append((500 + i, x, y, 9.0 if i % 7 else 4.0, 5))
    return pd.DataFrame(rows, columns=["osmid", "x", "y", "highway_rank", "component"])


def test_cluster_fold_matches_pandas_fold(spark):
    threshold = 12
    old, new = _both(
        spark, _components(threshold), ["component"],
        lambda g: cluster_group_pandas(g, threshold), simplify._cluster_fold(threshold),
        CLUSTER_SCHEMA, "osmid",
    )
    _assert_equal(old, new)
    by = {r.osmid: r for r in new}
    assert by[11].merged_by == by[10].merged_by == 10
    assert by[20].merged_by == 22 and by[30].cx is None
    assert len({by[400 + i].merged_by for i in range(threshold)}) == 2
    assert len({by[500 + i].merged_by for i in range(4 * threshold + 3)}) > 2


def _pandas_cluster_fold(threshold: int):
    def _fold_cluster_pandas(d, lo, hi):
        g = pd.DataFrame({c: d[c][lo:hi] for c in d})
        return cluster_group_pandas(g, threshold).to_dict("records")

    return _fold_cluster_pandas


@pytest.fixture(scope="module")
def city_nodes(spark):
    city = synth.synthetic_city(1)
    edges = simplify.add_highway_rank(spark.createDataFrame(city["edges"]))
    return simplify.add_buffer_radius(
        simplify.node_importance(spark.createDataFrame(city["nodes"]), edges)
    ).localCheckpoint()


@pytest.mark.parametrize("pass2", [False, True])
def test_cluster_nodes_matches_pandas_fold(spark, monkeypatch, city_nodes, pass2):
    """``cluster_nodes`` on the synthetic city stores the same rows with the
    pandas fold, including pass 2's keep-pass-1 rule. A small threshold
    sends several components through k-means."""
    threshold = 4
    nodes = city_nodes
    if pass2:
        p1 = simplify.cluster_nodes(nodes, spark, threshold)
        nodes = (
            p1.withColumnRenamed("merged_by", "merged_by_p1")
            .withColumnRenamed("cx", "cx_p1")
            .withColumnRenamed("cy", "cy_p1")
            .localCheckpoint()
        )

    def run():
        out = simplify.cluster_nodes(nodes, spark, threshold, pass2=pass2)
        return sorted(tuple(r) for r in out.select("osmid", "merged_by", "cx", "cy").collect())

    new = run()
    # the workers cannot import tests/, so the twin travels by value
    cloudpickle.register_pickle_by_value(sys.modules[_twins.__name__])
    try:
        monkeypatch.setattr(simplify, "_cluster_fold", _pandas_cluster_fold)
        old = run()
    finally:
        cloudpickle.unregister_pickle_by_value(sys.modules[_twins.__name__])
    assert new == old
    assert len({r[1] for r in new}) < len(new)  # nodes were merged
