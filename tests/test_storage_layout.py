"""Storage-layout plan evidence: bucketed joins skip both exchanges;
partitioned reads prune directories. These are write-time layout
decisions whose payoff only exists if the physical plan actually shows
it -- so the tests assert on the plan, not just the results."""

import pytest
from pyspark.sql import functions as F

from osmnetfusion_spark.operators import storage


def _plan(df):
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    loc = tmp_path_factory.mktemp("buckdemo")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS buckdemo LOCATION '{loc}'")
    edges = spark.range(0, 20_000).select(
        F.col("id").alias("edge_id"), (F.col("id") % 97).alias("rank")
    )
    stats = spark.range(0, 20_000).select(
        F.col("id").alias("edge_id"), (F.col("id") * 3 % 1000).alias("hits")
    )
    storage.write_bucketed(edges, "buckdemo.edges_b", ["edge_id"], 8, ["edge_id"])
    storage.write_bucketed(stats, "buckdemo.stats_b", ["edge_id"], 8, ["edge_id"])
    yield "buckdemo.edges_b", "buckdemo.stats_b"
    spark.sql("DROP DATABASE IF EXISTS buckdemo CASCADE")


def test_bucketed_join_is_exchange_free(spark, bucketed_tables):
    left, right = bucketed_tables
    # force the join path (not broadcast) so the bucket layout is what
    # decides whether an exchange appears
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(left).join(spark.table(right), ["edge_id"])
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        assert joined.count() == 20_000
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_unbucketed_join_needs_exchanges(spark, bucketed_tables):
    """Control: the same join over plain DataFrames shuffles both sides --
    proving the bucket layout, not some session setting, removed them."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(0, 20_000).select(F.col("id").alias("edge_id"))
        b = spark.range(0, 20_000).select(F.col("id").alias("edge_id"))
        plan = _plan(a.join(b, ["edge_id"]))
        assert "Exchange" in plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_partitioned_read_prunes(spark, tmp_path):
    path = str(tmp_path / "tiles_parted")
    df = spark.range(0, 10_000).select(
        F.col("id").alias("edge_id"), (F.col("id") % 16).alias("tile")
    )
    storage.write_partitioned(df, path, ["tile"])
    got = spark.read.parquet(path).filter(F.col("tile") == 3)
    plan = _plan(got)
    # the tile predicate must land in PartitionFilters (directory prune),
    # NOT in PushedFilters (row-group prune) -- partition columns are not
    # in the data files at all
    assert "PartitionFilters" in plan
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "tile" in pf.group(1), plan
    assert got.count() == 10_000 // 16


def test_aqe_splits_skewed_join(spark):
    """AQE skew-join evidence: a join where one key holds ~40% of the
    left side gets its oversized partitions SPLIT at runtime (the
    adaptive final plan marks the shuffle read 'skew'). This is the
    runtime complement to the write-time layouts above and to the
    explicit salting operator (operators/skew.py)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 5 < 2, F.lit(7)).otherwise(F.col("id") % 997).alias("k"),
            F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("pad"),
        )
        right = spark.range(0, 997).select(F.col("id").alias("k"), F.col("id").alias("dim"))
        # aggregate on an UNRELATED key: grouping by k would reuse the
        # join's hash distribution and AQE must then suppress the split
        joined = (
            left.join(right, "k")
            .groupBy(F.length("pad").alias("g"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        # collect() executes THIS Dataset's own query execution (count()
        # would plan a separate one and leave this plan un-finalized)
        assert len(joined.collect()) > 0
        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final_plan
        assert "skew" in final_plan.lower(), final_plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
