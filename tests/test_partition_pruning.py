"""Layout proof: date-partitioned tables prune to the queried window.

SCALE.md claims time-series tables written with date partitions turn
every time-window predicate (F10) into partition pruning — this test
machine-checks it: the scan's PartitionFilters carry the date predicate
and the files read shrink to the matching partitions only.
"""

from __future__ import annotations

import tempfile

import pyspark.sql.functions as F


def test_date_partition_pruning(spark):
    from sortify_spark.tables import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    with tempfile.TemporaryDirectory() as tmp:
        (
            events.withColumn("day", F.to_date("ts"))
            .write.mode("overwrite")
            .partitionBy("day")
            .parquet(f"{tmp}/events_by_day")
        )
        part = spark.read.parquet(f"{tmp}/events_by_day")
        n_days = part.select("day").distinct().count()
        assert n_days > 3  # the pruning claim needs >1 partition to mean anything

        one_day = part.select(F.max("day").alias("d")).first()["d"]
        q = part.filter(F.col("day") == F.lit(one_day))
        plan = q._jdf.queryExecution().executedPlan().toString()
        # predicate reaches the scan as a partition filter, not a row filter
        assert "PartitionFilters: [" in plan and "day" in plan.split(
            "PartitionFilters"
        )[1][:200]
        # and the scan actually reads one partition's files
        files_read = q.select(
            F.input_file_name().alias("f")
        ).distinct().count()
        total_files = part.select(
            F.input_file_name().alias("f")
        ).distinct().count()
        assert files_read < total_files
        assert q.count() == part.filter(F.col("day") == one_day).count()
