"""Storage-layout operators: bucketed tables for co-located joins and
partition-pruned reads.

At 100 TB the dominant avoidable cost is re-shuffling a fact table for
every join on the same key. Two layouts fix that at WRITE time:

- **Bucketing** (`write_bucketed`): hash-bucket both join sides on the
  key at write; a later equi-join on that key is Exchange-free on both
  sides (verified by plan test -- no shuffle, SortMergeJoin directly over
  the bucketed scans). This is Spark's answer to the reference's
  "everything is already in one process" locality.
- **Partitioning** (`write_partitioned`): directory-partition by a
  coarse column (tile, date, lang); a filtered read prunes to the
  matching directories (PartitionFilters in the scan, verified by plan
  test) -- the reads-one-city-of-a-planet access pattern.

Bucketed tables go through the session catalog (`saveAsTable`) because
bucket metadata lives in the table definition, not the files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a bucketed (and optionally sorted) catalog table.

    Joins between two tables bucketed on the same keys with the same
    bucket count skip BOTH exchanges; adding ``sort_cols`` also skips
    the per-task sorts of a sort-merge join.
    """
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Directory-partitioned parquet: reads filtered on the partition
    columns prune to matching directories (PartitionFilters)."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)
