"""Batch-keyed table storage: the one layout every replay-safe sink shares.

A batch-keyed table is a Parquet directory partitioned first by
``_batch_id`` (optionally by further columns below it). The landing
table's micro-batches and every streaming store (exact-dedup hashes and
kept documents, near-dup band keys and pairs, decontaminated documents,
the curation funnel's survivors, counts and stores) use it, so its
write, read, prune and stream-start decisions live here once. File-system
access goes through the Hadoop FileSystem API (:func:`hadoop_fs`), so
every URI Spark can write (local, HDFS, object stores with the right
connector jars) behaves the same.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .session import max_records_per_file


def hadoop_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` resolving ``path`` through the session's
    Hadoop configuration — the URI scheme picks the file system."""
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, hpath


def write_batch(
    df: DataFrame, path: str, batch_id: int, *partition_by: str
) -> None:
    """Write ``df`` as batch ``batch_id`` of the table at ``path``,
    replacing only that batch's partitions.

    Dynamic partition overwrite, set on the writer and never on the shared
    session: a replayed micro-batch overwrites its own output instead of
    duplicating it, and a replay with no rows is a no-op (the exact-dedup
    and near-dup streams rely on that for replay idempotence, so nothing
    is pre-deleted here). The job stages its files under
    ``.spark-staging-<job>``, so it never shares ``_temporary`` with a
    concurrent plain append to the same root (batch-ingest landing)."""
    (
        df.withColumn("_batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        # file sizing: split oversized write tasks; never merges
        .option("maxRecordsPerFile", max_records_per_file())
        .partitionBy("_batch_id", *partition_by)
        .parquet(path)
    )


def read_batches(
    spark: SparkSession, path: str, schema: StructType
) -> DataFrame:
    """Every batch stored at ``path`` read with ``schema``; empty only when
    the path does not exist (the first batch of a stream). Existence is
    checked, not exceptions swallowed: a corrupt store fails the batch
    instead of silently losing every cross-batch match."""
    fs, hpath = hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(path)


def prune_batches(
    spark: SparkSession, path: str, keep_from_batch_id: int
) -> None:
    """Drop the ``_batch_id=N`` partitions with ``N < keep_from_batch_id``.
    Entries that are not integer batch partitions are left alone. For a
    dedup store this is the dedup-within-horizon trade: copies of
    documents seen only in retired batches are no longer matched (same
    semantics as ``dropDuplicatesWithinWatermark``)."""
    fs, root = hadoop_fs(spark, path)
    if not fs.exists(root):
        return
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        if name.startswith("_batch_id="):
            try:
                bid = int(name.split("=", 1)[1])
            except ValueError:
                continue
            if bid < keep_from_batch_id:
                fs.delete(status.getPath(), True)


def start_batches(
    stream_df: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    trigger_seconds: int,
    available_now: bool,
):
    """Run ``fn(batch_df, batch_id)`` on every micro-batch of ``stream_df``
    and return the started StreamingQuery — the caller owns its
    lifecycle. ``available_now`` drains what is currently available and
    stops; otherwise a batch starts every ``trigger_seconds``."""
    writer = stream_df.writeStream.foreachBatch(fn).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
