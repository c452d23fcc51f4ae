"""Append sinks (SURVEY.md S1, S9, S11, S12) with scale-aware layout.

Every reference sink is a row append (upload rows, vector batches, log
events, QA metrics).  The engine's sinks are parquet/Delta appends with
the partitioning that makes the corresponding reads prune:

* big tenant tables → hash-bucketed ``owner_id`` + date partitions;
* time-series (logs/analytics/events) → date partitions.

Mongo's secondary indexes (``db_init.py:7-67``) have no Spark
equivalent; partition pruning + file skipping on these layouts is the
replacement (SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_OWNER_BUCKETS = 64


def with_layout_cols(
    df: DataFrame,
    ts_col: str | None = None,
    owner_col: str | None = None,
    n_buckets: int = N_OWNER_BUCKETS,
) -> DataFrame:
    """Add the partition columns (``p_date``, ``p_owner_bucket``)."""
    out = df
    if ts_col:
        out = out.withColumn("p_date", F.to_date(F.col(ts_col)))
    if owner_col:
        out = out.withColumn(
            "p_owner_bucket", F.abs(F.hash(F.col(owner_col))) % n_buckets
        )
    return out


def append_rows(
    df: DataFrame,
    path: str,
    ts_col: str | None = None,
    owner_col: str | None = None,
) -> None:
    """Generic append sink (S1/S9/S11/S12): layout columns + partitioned
    parquet append.  With Delta available this becomes
    ``format("delta")`` and S10-style deletes become real DELETEs."""
    out = with_layout_cols(df, ts_col, owner_col)
    parts = [c for c in ("p_date", "p_owner_bucket") if c in out.columns]
    writer = out.write.mode("append")
    if parts:
        writer = writer.partitionBy(*parts)
    writer.parquet(path)


def write_bucketed(
    df: DataFrame, table: str, key: str, num_buckets: int = 32
) -> None:
    """Write a catalog table bucketed (and sorted) by ``key``.

    Bucketing is the shuffle-once-amortize-forever layout: every later
    equi-join or aggregation on ``key`` between tables bucketed the same
    way runs WITHOUT an Exchange on either side (verified by
    tests/test_bucketed_join.py asserting zero shuffles in the join
    plan). This is the Spark replacement for the reference's Mongo
    secondary indexes on join keys, and the layout the vectors/documents
    tables use at 100 TB so the hydrate join (J2) and candidate
    restriction (J1) never reshuffle the corpus."""
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(num_buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    )


def export_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str = "doc_id",
    files_per_shard: int = 1,
    max_records_per_file: int | None = None,
) -> None:
    """Final curation stage: write the kept corpus as ``n_shards``
    deterministic, size-balanced training shards (``shard=K/`` parquet
    partitions).

    Shard assignment is the portable md5 hash bucket
    (``operators/sampling.hash_bucket``) — stable under repartitioning
    and re-runs, auditable row-by-row, and SQL-replayable (the
    ``shard_balance_stats`` query hash-checks both the assignment and
    the balance).

    Shard COUNT is a training-loader contract; write PARALLELISM and
    file sizing are storage concerns — they are decoupled:

    * ``files_per_shard`` splits each shard across that many write
      tasks via a secondary salted hash bucket, so a shard that would
      serialize ~100 GB in one straggler task at 100 TB becomes N
      parallel tasks producing N files under the same ``shard=K/``
      directory (assignment unchanged — the loader still streams the
      directory).
    * ``max_records_per_file`` additionally caps rows per written file
      (Spark's ``maxRecordsPerFile``) for object-store-friendly sizes
      without changing task parallelism.

    Defaults keep the one-file-per-shard layout for small exports."""
    from sortify_spark.operators.sampling import hash_bucket

    sharded = df.withColumn(
        "shard", hash_bucket(id_col, n_shards).cast("int")
    )
    if files_per_shard > 1:
        # Salted secondary bucket: independent of the shard hash (md5 of
        # id + salt), deterministic across re-runs.
        sub = hash_bucket(
            F.concat(F.col(id_col).cast("string"), F.lit("#subfile")),
            files_per_shard,
        ).cast("int")
        out = (
            sharded.withColumn("__sub", sub)
            .repartition(
                n_shards * files_per_shard, F.col("shard"), F.col("__sub")
            )
            .drop("__sub")
        )
    else:
        out = sharded.repartition(n_shards, F.col("shard"))
    writer = out.write.mode("overwrite")
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.partitionBy("shard").parquet(path)
