"""Streaming exact deduplication.

The streaming mirror of ``operators.dedup.exact_dedup``: the SAME
``normalize_text``/md5 fingerprint expressions (one code path — no
second dedup implementation to drift), a persisted content-hash store
for cross-batch duplicates, and within-batch min-id survivorship. Kept
documents and the hash store are written with batch_id-keyed dynamic
partition overwrite, so micro-batch REPLAYS overwrite their own output
instead of duplicating it — the same exactly-once discipline as
streaming/neardup.py and the landing sink.

At 100 TB the per-batch cost is one hash aggregate over the batch plus
one equi-join against a two-narrow-column store; the store is bounded
by distinct content hashes and retired with ``storage.prune_batches``
(the dedup-within-horizon trade, same semantics as Spark's
``dropDuplicatesWithinWatermark``).

SURVIVORSHIP CONTRACT (r7 ADVICE #3): cross-batch survivorship is
FIRST-SEEN-BATCH, min-id within that batch. This equals batch
``exact_dedup``'s global min-id keep-set exactly when document ids are
monotone with arrival order (later batches carry larger ids) — true for
log/event/ingest ids, and the assumption the batch-parity test
(tests/test_streaming.py::test_streaming_exact_dedup_matches_batch)
encodes. A non-monotone source (e.g. backfill replays with old ids)
keeps the first-ARRIVED copy instead of the globally-min id; that is a
survivorship-policy difference, not a dedup bug — the set of distinct
contents kept is identical either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..operators.dedup import normalize_text
from ..storage import read_batches, start_batches, write_batch


def _store_schema(id_col: str, id_type) -> StructType:
    return StructType(
        [
            StructField("content_hash", StringType()),
            StructField(id_col, id_type),
            StructField("_batch_id", LongType()),
        ]
    )


def start_exact_dedup_stream(
    stream_df: DataFrame,
    store_dir: str,
    kept_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = False,
    trigger_seconds: int = 5,
):
    """Attach the exact-dedup filter to a streaming document frame.

    Emits surviving (id, content_hash) rows under ``kept_dir`` — the
    first-seen copy of each distinct content, min-id within a batch —
    and maintains the content-hash store under ``store_dir``. Replays
    overwrite their own batch partition. Returns the StreamingQuery —
    caller owns its lifecycle."""
    spark = stream_df.sparkSession
    id_type = stream_df.schema[id_col].dataType

    def _dedup(batch_df: DataFrame, batch_id: int) -> None:
        winners = (
            batch_df.select(
                F.md5(normalize_text(F.col(text_col))).alias(
                    "content_hash"
                ),
                F.col(id_col),
            )
            .groupBy("content_hash")
            .agg(F.min(id_col).alias(id_col))
        ).persist()
        try:
            prev = read_batches(
                spark, store_dir, _store_schema(id_col, id_type)
            ).select("content_hash")
            # materialize the anti-join BEFORE any write: the second write
            # below overwrites store_dir, and a lazy `kept` plan would
            # re-scan store_dir (via `prev`) while it is being overwritten
            # — works on Spark 4.1 dynamic overwrite but is fragile across
            # engines (r7 ADVICE #1). localCheckpoint pins the rows.
            kept = winners.join(
                prev, "content_hash", "left_anti"
            ).localCheckpoint()
            write_batch(kept, kept_dir, batch_id)
            write_batch(kept, store_dir, batch_id)
        finally:
            winners.unpersist()

    return start_batches(
        stream_df, _dedup, checkpoint_dir, trigger_seconds, available_now
    )


def read_kept_docs(spark: SparkSession, kept_dir: str) -> DataFrame:
    """All surviving documents so far: one (content_hash, id) row per
    distinct content, min id across batches (a hash can appear in at
    most one batch partition because later batches anti-join the
    store)."""
    return spark.read.parquet(kept_dir).drop("_batch_id")
