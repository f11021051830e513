"""Streaming MinHash-LSH near-duplicate detection.

Closes the streaming gap in the LLM-corpus surface: the batch path
(operators/dedup.py:minhash_near_dup_pairs) needs the whole corpus for its
band self-join, but ingestion is a stream (the reference's monitor loop,
/root/reference/scripts/ocsf_monitor.py:120-207, is the streaming entry
point this engine re-expresses as Structured Streaming). Here each
micro-batch of documents is shingled, MinHash-signed, and banded with the
SAME column expressions as the batch operator (operators/dedup.py:
with_hashed_shingles, minhash_signature, lsh_band_keys — one code path, so
stream and batch bucket identically), then candidate pairs come from

  (a) the batch's band keys joined against the PERSISTED band-key store
      (all previously streamed documents), and
  (b) a within-batch self-join,

and the batch's band keys append to the store. Run over the same corpus,
the union of emitted pairs EQUALS the batch operator's output — pinned by
tests/test_streaming.py::test_streaming_near_dup_matches_batch.

Scale posture (100 TB): per micro-batch work is O(batch × n_bands) row-local
compute plus one equi-join against the store, which Parquet-prunes on
band_idx and carries only (id, band_idx, band_hash) — 3 narrow columns, not
documents. The store grows with corpus size exactly like the batch
operator's exploded band table (n_bands rows/doc); for bounded state,
retire old band keys by time (`storage.prune_batches`) — the streaming analog of
dedup-within-horizon (dropDuplicatesWithinWatermark keeps the same bound
for exact dedup). Exactly-once: both sinks are batch_id-keyed dynamic
partition overwrites, so a replayed micro-batch overwrites its own
partition instead of duplicating pairs (the storage.py layout shared with
the landing sink)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    lsh_band_keys,
    minhash_signature,
    with_hashed_shingles,
)
from ..storage import read_batches, start_batches, write_batch

PAIRS_SCHEMA = "id_a long, id_b long"


def _store_schema(id_col: str, id_type) -> "StructType":
    # schema follows the caller's id column NAME AND TYPE — a hardcoded
    # doc_id would break every non-default --id-col stream on its first
    # store read (UNRESOLVED_COLUMN), and a hardcoded long type would
    # silently null out string ids on schema-on-read, dropping every
    # cross-batch duplicate pair
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("band_idx", T.IntegerType()),
            T.StructField("band_hash", T.StringType()),
            T.StructField("_batch_id", T.LongType()),
        ]
    )


def _band_keys_for_batch(
    batch_df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    n_hashes: int,
    n_bands: int,
) -> DataFrame:
    sig = minhash_signature(
        with_hashed_shingles(batch_df, text_col, k).select(
            id_col, "shingle_hashes"
        ),
        shingle_col="shingle_hashes",
        n_hashes=n_hashes,
        pre_hashed=True,
    )
    return lsh_band_keys(
        sig,
        id_col=id_col,
        n_bands=n_bands,
        rows_per_band=n_hashes // n_bands,
    )


def start_near_dup_stream(
    stream_df: DataFrame,
    store_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 16,
    n_bands: int = 4,
    available_now: bool = False,
    trigger_seconds: int = 5,
):
    """Attach the near-dup detector to a streaming document frame.

    Emits (id_a, id_b) candidate-pair parquet under ``pairs_dir`` (id_a <
    id_b, distinct per batch; replays overwrite their own batch partition)
    and maintains the band-key store under ``store_dir``. Returns the
    StreamingQuery — caller owns its lifecycle."""
    spark = stream_df.sparkSession
    id_type = stream_df.schema[id_col].dataType

    def _detect(batch_df: DataFrame, batch_id: int) -> None:
        bands = _band_keys_for_batch(
            batch_df, text_col, id_col, k, n_hashes, n_bands
        ).persist()
        try:
            prev = read_batches(
                spark, store_dir, _store_schema(id_col, id_type)
            ).select(F.col(id_col).alias("_prev_id"), "band_idx", "band_hash")
            vs_store = bands.join(prev, ["band_idx", "band_hash"]).select(
                F.least(F.col(id_col), F.col("_prev_id")).alias("id_a"),
                F.greatest(F.col(id_col), F.col("_prev_id")).alias("id_b"),
            )
            a, b = bands.alias("a"), bands.alias("b")
            within = a.join(
                b,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_hash") == F.col("b.band_hash"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            ).select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            pairs = (
                vs_store.unionByName(within)
                .filter(F.col("id_a") != F.col("id_b"))
                .distinct()
            )
            write_batch(pairs, pairs_dir, batch_id)
            write_batch(bands, store_dir, batch_id)
        finally:
            bands.unpersist()

    return start_batches(
        stream_df, _detect, checkpoint_dir, trigger_seconds, available_now
    )


def read_near_dup_pairs(spark: SparkSession, pairs_dir: str) -> DataFrame:
    """All candidate pairs emitted so far (distinct across batches — a pair
    discovered against the store AND within a later batch appears once)."""
    # schema inferred from the footers: pair id types follow the stream's
    # id column type (string doc ids produce string pairs)
    return (
        spark.read.parquet(pairs_dir)
        .select("id_a", "id_b")
        .distinct()
    )
