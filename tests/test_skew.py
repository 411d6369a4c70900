"""Skew handling (FIXTURES.md §4 test 4): the mega conversation spreads
across partitions under both salting and range partitioning; per-task row
counts stay balanced."""

from __future__ import annotations

from pyspark.sql import functions as F

from documentai_spark.operators.skew import salted_repartition


def _partition_counts(df):
    return (df.withColumn("_pid", F.spark_partition_id())
              .groupBy("_pid").count().collect())


def test_salting_spreads_mega_conversation(spark, transcripts_path):
    df = spark.read.parquet(transcripts_path)
    mega = (df.groupBy("conv_id").count()
              .orderBy(F.desc("count")).first())
    assert mega["count"] >= 300  # the fixture's mega conversation

    salted = salted_repartition(df, 16, salt_buckets=8)
    mega_parts = (salted.filter(F.col("conv_id") == mega.conv_id)
                  .select(F.spark_partition_id().alias("p"))
                  .distinct().count())
    assert mega_parts >= 4  # one conversation never owned by one task


def test_range_partitioning_balances_rows(spark, transcripts_path):
    df = spark.read.parquet(transcripts_path)
    ranged = df.repartitionByRange(8, F.col("conv_id"), F.col("turn_idx"))
    counts = [r["count"] for r in _partition_counts(ranged)]
    assert len(counts) == 8
    mean = sum(counts) / len(counts)
    assert max(counts) <= 2 * mean, counts  # no straggler partition


def test_salted_repartition_salt_collision_guard(spark):
    import pytest

    from documentai_spark.operators.skew import salted_repartition

    df = spark.createDataFrame([("c1", 0, 1)],
                               ["conv_id", "turn_idx", "_salt"])
    with pytest.raises(ValueError, match="_salt"):
        salted_repartition(df)


def test_restore_order_pins_range_partitions(spark):
    """r7 review (CLAUDE.md invariant): the range exchange must carry an
    explicit partition count so AQE cannot coalesce it into straggler
    giant tasks."""
    from documentai_spark.operators.skew import restore_order

    df = spark.createDataFrame([("c%d" % i, j) for i in range(10)
                                for j in range(5)],
                               ["conv_id", "turn_idx"])
    plan = restore_order(df, num_partitions=13)._jdf \
        .queryExecution().analyzed().toString()
    assert "13" in plan
    # default pulls spark.sql.shuffle.partitions explicitly
    sp = spark.conf.get("spark.sql.shuffle.partitions")
    plan_d = restore_order(df)._jdf.queryExecution().analyzed().toString()
    assert sp in plan_d


def test_pipeline_range_exchange_is_restore_order(spark):
    """extraction_pipeline's ordered form takes its range exchange and
    sort from restore_order: the physical plan equals the inline
    repartitionByRange + sortWithinPartitions composition it replaced
    (expression and plan ids masked)."""
    import re

    from documentai_spark.functions.verdict import with_verdict
    from documentai_spark.operators.extraction import (
        with_extraction_and_quality,
    )
    from documentai_spark.plans.pipeline import (
        OUTPUT_COLUMNS, TRANSCRIPT_DDL, extraction_pipeline,
    )

    df = spark.createDataFrame(
        [("c%d" % i, j, "user", "turn %d.%d" % (i, j), None, None)
         for i in range(3) for j in range(4)], TRANSCRIPT_DDL)
    inline = (df.repartitionByRange(7, F.col("conv_id"), F.col("turn_idx"))
                .sortWithinPartitions("conv_id", "turn_idx"))
    inline = with_verdict(with_extraction_and_quality(inline)) \
        .select(*OUTPUT_COLUMNS)

    def plan(frame):
        s = frame._jdf.queryExecution().executedPlan().toString()
        return re.sub(r"#\d+L?|plan_id=\d+", "#", s)

    assert plan(extraction_pipeline(df, salt_partitions=7)) == plan(inline)
