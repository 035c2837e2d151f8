"""dense_index: one pass over its input, and numbering identical to the
global ``row_number() OVER (ORDER BY ...) - 1``."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from _udfcount import udf_counts
from osmnetfusion_spark.operators.indexing import dense_index


def _passthrough():
    # built inside the test so the Python workers unpickle it by value
    def passthrough(it):
        for pdf in it:
            yield pdf

    return passthrough


def _keyed(spark, n: int, parts: int, keys: int):
    """``n`` rows over ``parts`` input partitions; ``k`` has ``keys``
    distinct values scattered over the id range, ``(k, id)`` is total."""
    return spark.range(0, n, 1, parts).withColumn("k", (F.col("id") * 7919) % keys)


def test_dense_index_runs_its_input_once(spark, tmp_path, monkeypatch):
    """The range shuffle's sampling job and the shuffle itself must read a
    pinned copy of the input, not re-run its plan."""
    n = 5000
    counts = udf_counts(spark, monkeypatch)
    lazy = _keyed(spark, n, 4, 100).mapInPandas(_passthrough(), "id long, k long")
    dense_index(lazy, ["k", "id"], num_partitions=5).write.parquet(str(tmp_path / "idx"))
    assert counts("passthrough")[1] == n
    got = spark.read.parquet(str(tmp_path / "idx"))
    assert got.count() == n
    assert got.select("__idx").distinct().count() == n


@pytest.mark.parametrize(
    "n, parts, keys",
    [(200_000, 13, 1000), (50_000, 3, 1000), (37, 8, 5)],
    ids=["200k-13p", "50k-3p", "37-8p"],
)
def test_dense_index_equals_global_row_number(spark, n, parts, keys):
    df = _keyed(spark, n, parts, keys)
    got = dense_index(df, ["k", "id"], num_partitions=parts)
    want = df.withColumn(
        "__idx", (F.row_number().over(Window.orderBy("k", "id")) - 1).cast("long")
    )
    assert got.count() == n
    assert got.groupBy("__idx").count().filter("count > 1").count() == 0
    assert got.select("id", "k", "__idx").exceptAll(want.select("id", "k", "__idx")).count() == 0
    assert got.agg(F.min("__idx"), F.max("__idx")).first() == (0, n - 1)


def test_dense_index_empty_input(spark):
    df = spark.createDataFrame([], "k long")
    assert dense_index(df, ["k"]).count() == 0
