"""grouped_map_batched must keep applyInPandas semantics, NULL keys included."""

from __future__ import annotations

from osmnetfusion_spark.operators.groupedmap import grouped_map_batched

SCHEMA = "k long, n long"


def _count_fold():
    # built inside the test so the Python workers unpickle it by value
    def count(d, lo, hi):
        return [{"k": d["k"][lo], "n": hi - lo}]

    return count


def _rows(df, key=("k",)) -> list[tuple]:
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: [(t[i] is not None, t[i] or 0) for i in range(len(key))],
    )


def _tiny_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    return lambda: spark.conf.set(key, old)


def test_grouped_map_batched_keeps_null_keys(spark):
    df = spark.createDataFrame([(1,), (1,), (None,), (None,), (2,)], "k long")
    want = _rows(df.groupBy("k").count())
    assert want == [(None, 2), (1, 2), (2, 1)]
    assert _rows(grouped_map_batched(df, ["k"], _count_fold(), SCHEMA)) == want


def test_grouped_map_batched_null_group_split_across_batches(spark):
    """Two-row Arrow batches: the three-row NULL group (sorted first in its
    partition) straddles a batch boundary and must reach the fold whole."""
    restore = _tiny_batches(spark)
    try:
        df = spark.createDataFrame([(k,) for k in (1, 1, None, None, None, 2, 2, 2)], "k long")
        assert _rows(grouped_map_batched(df, ["k"], _count_fold(), SCHEMA)) == [
            (None, 3), (1, 2), (2, 3)
        ]
    finally:
        restore()


def test_grouped_map_batched_two_column_key_with_null(spark):
    """A two-column key where one column is NULL: Arrow hands the NULL long
    to pandas as NaN, and NaN != NaN must not split the group."""

    def count2(d, lo, hi):
        return [{"a": d["a"][lo], "b": d["b"][lo], "n": hi - lo}]

    rows = [(None, 1)] * 3 + [(None, 2)] * 2 + [(1, None)] * 3 + [(1, 1), (2, None)]
    df = spark.createDataFrame(rows, "a long, b long")
    want = _rows(df.groupBy("a", "b").count(), key=("a", "b"))
    assert [n for *_, n in want] == [3, 2, 3, 1, 1]
    restore = _tiny_batches(spark)
    try:
        got = grouped_map_batched(df, ["a", "b"], count2, "a long, b long, n long")
        assert _rows(got, key=("a", "b")) == want
    finally:
        restore()


def test_grouped_map_batched_kernel_carries_fold_name(spark, monkeypatch):
    """The mapInPandas function is named after the fold, so kernel counters
    tell the folds apart."""
    from _udfcount import udf_counts

    counts = udf_counts(spark, monkeypatch)
    fold = _count_fold()
    df = spark.createDataFrame([(1,), (1,), (None,), (2,)], "k long")
    assert len(grouped_map_batched(df, ["k"], fold, SCHEMA).collect()) == 3
    assert fold.__name__ == "count" and counts("count")[1] == 3

