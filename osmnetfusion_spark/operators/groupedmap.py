"""Batched grouped fold: applyInPandas semantics without per-group overhead.

``groupBy().applyInPandas`` pays an Arrow slice + Python call per group
(~10-15 ms); with thousands of small groups (parallel-edge merges, node
clusters) that dominates wall time -- and AQE's partition coalescing can
serialize it entirely on small shuffles. :func:`grouped_map_batched`
keeps the same contract (a fold sees exactly one complete group) but
ships whole partitions to Python: :func:`cluster_by` repartitions by key
and sorts within partitions so groups are contiguous, then
``mapInPandas`` runs :func:`complete_groups`, which carries the group that
straddles a batch boundary over to the next batch.

The fold protocol is ``fold(d, lo, hi) -> list[dict]``: ``d`` is the
body's column dict of numpy arrays, ``[lo, hi)`` is one group's row
slice, and the fold returns output records. :class:`GroupView` gives a
fold row subsets of the group without copying. Each body converts to the
column dict once, and the records of all its groups become one pandas
frame: a frame per group cost ~70% of the step-11 fold. Cost: one Python
round trip per partition, plus one frame in and one frame out per body.
Scales the way the reference's own mp.Pool partitioning did
(p3_functions.py:913-922), but with Spark shuffle semantics.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import DataType

Fold = Callable[[dict, int, int], list]


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


def _group_bounds(d: dict, keys: list[str], n: int) -> Iterator[tuple[int, int]]:
    """``(lo, hi)`` row slices of the key runs in ``n`` contiguous rows.
    NULL equals NULL: Arrow hands a NULL long to pandas as NaN, and
    ``NaN != NaN`` alone would split a NULL group row by row."""
    change = np.zeros(max(n - 1, 0), dtype=bool)
    for k in keys:
        a = d[k]
        na = pd.isna(a)
        change |= (a[1:] != a[:-1]) & ~(na[1:] & na[:-1])
    cuts = np.flatnonzero(change) + 1
    return zip(np.concatenate([[0], cuts]).tolist(), np.concatenate([cuts, [n]]).tolist())


def fold_bodies(
    batches: Iterator[pd.DataFrame], keys: list[str], fold: Fold, columns: list[str]
) -> Iterator[pd.DataFrame]:
    """The ``mapInPandas`` body of :func:`grouped_map_batched`: fold every
    group of every complete body and yield one frame of ``columns`` per
    body (nothing for a body without records). A column a record does
    not set is missing in the frame, NULL once it crosses the Arrow
    boundary."""
    for body in complete_groups(batches, keys):
        d = {c: body[c].to_numpy() for c in body.columns}
        recs: list[dict] = []
        for lo, hi in _group_bounds(d, keys, len(body)):
            recs.extend(fold(d, lo, hi))
        if recs:
            yield pd.DataFrame(recs, columns=columns)


def grouped_map_batched(df: DataFrame, keys: list[str], fold: Fold, schema: str) -> DataFrame:
    """Apply ``fold`` to each complete group of ``keys``, batched. Rows with
    a NULL key form their own group, as with ``applyInPandas``. The
    ``mapInPandas`` function carries the fold's ``__name__``, so the
    Python kernels of different folds stay apart in counters."""
    columns = DataType.fromDDL(schema).fieldNames()

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return fold_bodies(it, keys, fold, columns)

    run.__name__ = fold.__name__
    return cluster_by(df, keys).mapInPandas(run, schema=schema)


class GroupView:
    """Row subset of one group: positions into the body's column dict.
    ``.col`` returns a plain numpy slice, which the fold helpers iterate
    exactly as they iterated the Series of a per-group pandas frame."""

    __slots__ = ("d", "idx")

    def __init__(self, d: dict, idx: np.ndarray):
        self.d = d
        self.idx = idx

    def col(self, c: str) -> np.ndarray:
        return self.d[c][self.idx]

    def has(self, c: str) -> bool:
        return c in self.d

    def sub(self, mask: np.ndarray) -> "GroupView":
        return GroupView(self.d, self.idx[mask])

    def __len__(self) -> int:
        return len(self.idx)
