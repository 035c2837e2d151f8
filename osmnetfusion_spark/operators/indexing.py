"""Distributed dense indexing (0..n-1 by a total order).

``row_number() OVER (ORDER BY ...)`` with no PARTITION BY funnels the whole
table through ONE task -- fine at city scale, fatal at 10^9 rows. The
classic fix (zipWithIndex's algorithm, DataFrame-native): range-partition
by the order key, count rows per partition, broadcast the prefix-sum
offsets, then number within partitions and add the offset. The input runs
once and is pinned, the range-partitioned layout is pinned, and the count
and numbering passes read that pin; one tiny broadcast. Identical output
to the global window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dense_index(
    df: DataFrame,
    order_cols: list,
    out_col: str = "__idx",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``out_col`` = dense 0-based position of each row under the total
    order ``order_cols`` (list of column names or Columns; caller must
    ensure the order is total, i.e. no ties, for determinism).

    Runs five Spark jobs before it returns (under AQE): the range shuffle's
    sampling job, the shuffle, pinning its output, and the per-partition
    counts (two). The input is pinned (lazily: the sampling job fills the
    pin) because the sampling job and the shuffle each read all of it, and
    an unpinned lazy input, such as the step-11 fold behind
    ``merge.finalize_edges``, would run twice. The shuffled layout is
    pinned so the counts and the numbering see the same partitions
    (counting and numbering one lazy query gave duplicate indices).
    The numbering itself is lazy and runs in the caller's action."""
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    ranged = df.localCheckpoint(eager=False).repartitionByRange(num_partitions, *cols)
    part = ranged.withColumn("__pid", F.spark_partition_id())
    part = part.localCheckpoint()  # pin partitioning: sizes and numbering must see the SAME layout
    sizes = {
        r["__pid"]: r["cnt"]
        for r in part.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets = []
    acc = 0
    for pid in sorted(sizes):
        offsets.append((pid, acc))
        acc += sizes[pid]
    off_df = F.broadcast(
        spark.createDataFrame(offsets or [(0, 0)], "__pid int, __off long")
    )
    w = Window.partitionBy("__pid").orderBy(*cols)
    return (
        part.join(off_df, "__pid", "left")
        .withColumn(out_col, (F.row_number().over(w) - 1 + F.coalesce("__off", F.lit(0))).cast("long"))
        .drop("__pid", "__off")
    )
