"""grouped_map_batched must keep applyInPandas semantics, NULL keys included."""

from __future__ import annotations

import pandas as pd

from osmnetfusion_spark.operators.groupedmap import grouped_map_batched

SCHEMA = "k long, n long"


def _count_fold():
    # built inside the test so the Python workers unpickle it by value
    def count(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"k": [pdf["k"].iloc[0]], "n": [len(pdf)]})

    return count


def _rows(df) -> list[tuple]:
    return sorted(((r.k, r.n) for r in df.collect()), key=lambda t: (t[0] is not None, t[0] or 0))


def test_grouped_map_batched_keeps_null_keys(spark):
    count = _count_fold()
    df = spark.createDataFrame([(1,), (1,), (None,), (None,), (2,)], "k long")
    want = _rows(df.groupBy("k").applyInPandas(count, SCHEMA))
    assert want == [(None, 2), (1, 2), (2, 1)]
    assert _rows(grouped_map_batched(df, ["k"], count, SCHEMA)) == want


def test_grouped_map_batched_null_group_split_across_batches(spark):
    """Two-row Arrow batches: the three-row NULL group (sorted first in its
    partition) straddles a batch boundary and must reach the fold whole."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        df = spark.createDataFrame([(k,) for k in (1, 1, None, None, None, 2, 2, 2)], "k long")
        assert _rows(grouped_map_batched(df, ["k"], _count_fold(), SCHEMA)) == [
            (None, 3), (1, 2), (2, 3)
        ]
    finally:
        spark.conf.set(key, old)
