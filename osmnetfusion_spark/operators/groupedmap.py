"""Batched grouped-map: applyInPandas semantics without per-group overhead.

``groupBy().applyInPandas`` pays an Arrow slice + Python call per group
(~10-15 ms); with thousands of small groups (parallel-edge merges, node
clusters) that dominates wall time -- and AQE's partition coalescing can
serialize it entirely on small shuffles. :func:`grouped_map_batched`
keeps the same contract (fold function sees exactly one complete group)
but ships whole partitions to Python: :func:`cluster_by` repartitions by
key and sorts within partitions so groups are contiguous, then
``mapInPandas`` runs :func:`complete_groups`, which carries the group that
straddles a batch boundary over to the next batch.

Cost: one Python round trip per partition + a pandas groupby per batch.
Scales the same way the reference's own mp.Pool partitioning did
(p3_functions.py:913-922), but with Spark shuffle semantics.
"""

from __future__ import annotations

import warnings
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame


def cluster_by(df: DataFrame, keys: list[str]) -> DataFrame:
    """Hash-partition ``df`` on ``keys`` (``spark.sql.shuffle.partitions``
    ways) and sort within partitions, so every group is one contiguous run
    of rows in one partition."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return df.repartition(n, *keys).sortWithinPartitions(*keys)


def complete_groups(batches: Iterator[pd.DataFrame], keys: list[str]) -> Iterator[pd.DataFrame]:
    """Re-chunk the Arrow batches of a :func:`cluster_by` partition into
    bodies made only of complete groups.

    The rows of a batch's last key (the group that may continue in the
    next batch) are carried over and prepended to that batch; the final
    carry is yielded last. A NULL key matches NULL, so a NULL group is
    carried like any other and reaches the consumer whole.
    """
    carry: pd.DataFrame | None = None  # never empty once set
    for pdf in batches:
        if carry is not None:
            pdf = pd.concat([carry, pdf], ignore_index=True)
        if not len(pdf):
            continue
        tail = pd.Series(True, index=pdf.index)
        for k in keys:
            col = pdf[k]
            last = col.iloc[-1]
            tail &= col.isna() if pd.isna(last) else col.eq(last)
        first_tail = int(tail.to_numpy().argmax())
        carry = pdf.iloc[first_tail:]
        if first_tail:
            yield pdf.iloc[:first_tail]
    if carry is not None:
        yield carry.reset_index(drop=True)


def concat_outputs(outs: list[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Yield one body's folded frames as one chunk (nothing if empty)."""
    if len(outs) == 1:
        yield outs[0]
    elif outs:
        with warnings.catch_warnings():
            # pandas FutureWarning about all-NA column dtype inference
            # during concat; Arrow casts the result to the declared schema
            warnings.simplefilter("ignore", FutureWarning)
            yield pd.concat(outs, ignore_index=True)


def grouped_map_batched(
    df: DataFrame,
    keys: list[str],
    fold: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str,
) -> DataFrame:
    """Apply ``fold`` to each complete group of ``keys``, batched. Rows with
    a NULL key form their own group, as with ``applyInPandas``."""

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for body in complete_groups(it, keys):
            outs = [
                fold(g.reset_index(drop=True))
                for _, g in body.groupby(keys, sort=False, dropna=False)
            ]
            yield from concat_outputs([o for o in outs if o is not None and len(o)])

    return cluster_by(df, keys).mapInPandas(run, schema=schema)
