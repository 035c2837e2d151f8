"""Scale-adaptive scan fan-out (guide §2.5 "input skew").

A small parquet file arrives as ONE scan partition, so every per-row
kernel (Arrow UDFs, interpreted higher-order functions, explodes,
broadcast-join probes) upstream of the first shuffle runs on one core no
matter how many the session has. At production scale the same scan has
thousands of splits and needs no help. :func:`fan_out` bridges the two
regimes: repartition to the session's default parallelism ONLY when the
scan is thinner than that -- a no-op on any input that is already
parallel, never a constant tuned to the local core count.

Only use this on paths whose results are partition-order independent:
integer/hash aggregates, min/max, per-row expressions, or exact
integer-valued double sums. Paths that aggregate genuine floating-point
terms (e.g. ``avg(ln ...)``) must keep their input partitioning so the
summation order -- and therefore the 6-dp-rounded contract value -- cannot
drift run to run.

Sizing reads only file metadata (``df.inputFiles`` + local file sizes) --
NEVER ``df.rdd.getNumPartitions()``: under AQE, converting to an RDD
finalizes the adaptive plan, which materializes its shuffle query stages
-- a silent extra job that re-executes the whole subplan (measured: one
hidden job per spatial join, and the two-parallelism scaling evidence
collapsed from 0.80 to 0.28 until it was removed).
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame

#: A file scan above this size is already split by the file splitter.
SMALL_SCAN_BYTES = 128 << 20


def _input_files(df: DataFrame) -> list[str]:
    try:
        return df.inputFiles()
    except Exception:  # pragma: no cover - non-analyzable plan
        return []


def scan_bytes(df: DataFrame) -> int | float | None:
    """Source-file bytes feeding a DataFrame: ``None`` if it is not a file
    scan; ``float('inf')`` if any source file cannot be sized locally --
    which includes every non-local URI such as s3a:// or hdfs://.

    Pre-filter source size, so it over-estimates: the safe direction for
    both the broadcast guard and the fan-out size check.
    """
    files = _input_files(df)
    if not files:
        return None
    total = 0
    for f in files:
        parsed = urlparse(f)
        # Only LOCAL files are sizable here. A remote URI (s3a/hdfs/...)
        # must read as unsizable by its scheme, not by hoping getsize
        # fails: its bare path could coincidentally exist on the driver
        # (shared mount, leftover warehouse) and a bogus local size
        # would re-enable the broadcast hint for a planet-scale table.
        if parsed.scheme not in ("", "file"):
            return float("inf")
        # file:///p and file:/p both occur in Hadoop path renderings;
        # urlparse handles either (netloc empty, path '/p').
        path = parsed.path if parsed.scheme == "file" else f
        try:
            total += os.path.getsize(path)
        except OSError:
            # Unreadable size must read as "too big", not "no estimate":
            # None here would silently re-enable the broadcast hint for a
            # build side we could not size (unsafe direction).
            return float("inf")
    return total


def fan_out(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition a small file scan to the session's default parallelism.

    With ``keys`` the rows are hash-partitioned on them, so a downstream
    per-key aggregation or window needs no second exchange (the spatial
    probe sides pass their entity id); without, round-robin. Non-file
    sources (range/createDataFrame/post-shuffle) already inherit the
    session's parallelism, and a scan with as many files as that, or
    over :data:`SMALL_SCAN_BYTES` (or unsizable), is split by the file
    reader -- all pass through untouched, so this is a no-op at scale.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if len(_input_files(df)) >= target:
        return df
    est = scan_bytes(df)
    if est is None or est > SMALL_SCAN_BYTES:
        return df
    return df.repartition(target, *keys)
