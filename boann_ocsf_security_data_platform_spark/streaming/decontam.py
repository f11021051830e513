"""Streaming benchmark decontamination.

Completes the streaming mirror of the corpus-curation funnel (alongside
exact dedup via dropDuplicatesWithinWatermark, near-dup via
streaming/neardup.py, and z-score alerting): documents arriving on a
stream are probed per micro-batch against a STATIC benchmark set's word
k-grams, and only uncontaminated documents pass through — the
train/test-overlap firewall a pretraining ingest pipeline needs at the
door, not as an after-the-fact batch sweep.

One code path with the batch operator: the shingling is the same
``with_hashed_shingles`` 62-bit integer grams as
operators/dedup.py:decontaminate, and the per-batch probe is the same
broadcast LEFT SEMI join — run over the same corpus, the union of
streamed clean documents EQUALS the batch operator's output (pinned by
tests/test_streaming.py::test_streaming_decontamination_matches_batch).

Scale posture (100 TB): the benchmark side (eval sets) is tiny and
STATIC — its distinct shingle set is computed once at stream start,
persisted, and broadcast into every micro-batch; per-batch work is a
row-local shingle projection plus one broadcast semi-join. Nothing about
the stream's history is kept (contamination is memoryless, unlike
near-dup), so there is no state store to bound. Exactly-once: the clean
sink is a batch_id-keyed dynamic partition overwrite, so a replayed
micro-batch overwrites its own partition instead of duplicating documents
(the storage.py layout shared with streaming/neardup.py and the landing
sink)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import with_hashed_shingles
from ..storage import start_batches, write_batch


def benchmark_shingles(
    benchmark: DataFrame, text_col: str = "text", k: int = 3
) -> DataFrame:
    """The benchmark's distinct shingle set — identical derivation to the
    batch decontaminate()'s probe side. Small (eval sets), broadcast into
    every micro-batch."""
    return (
        with_hashed_shingles(benchmark, text_col, k)
        .select(F.explode("shingle_hashes").alias("_sh"))
        .distinct()
    )


def start_decontamination_stream(
    stream_df: DataFrame,
    benchmark: DataFrame,
    clean_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    available_now: bool = False,
    trigger_seconds: int = 5,
):
    """Attach the decontamination probe to a streaming document frame.

    Emits the CLEAN (uncontaminated) documents as parquet under
    ``clean_dir`` (replays overwrite their own batch partition). Returns
    the StreamingQuery — caller owns its lifecycle; call
    ``release_benchmark`` (the second return value) after stopping to free
    the persisted benchmark shingle set."""
    b_sh = benchmark_shingles(benchmark, text_col, k).persist()
    b_sh.count()  # materialize once, before the first batch

    def _probe(batch_df: DataFrame, batch_id: int) -> None:
        c_sh = with_hashed_shingles(batch_df, text_col, k).select(
            id_col, F.explode("shingle_hashes").alias("_sh")
        )
        contaminated = (
            c_sh.join(F.broadcast(b_sh), "_sh", "left_semi")
            .select(id_col)
            .distinct()
        )
        clean = batch_df.join(contaminated, id_col, "left_anti")
        write_batch(clean, clean_dir, batch_id)

    query = start_batches(
        stream_df, _probe, checkpoint_dir, trigger_seconds, available_now
    )
    return query, b_sh.unpersist


def read_clean_docs(spark: SparkSession, clean_dir: str) -> DataFrame:
    """All documents that passed the probe so far (schema inferred from
    the footers; ``_batch_id`` partition column dropped)."""
    return spark.read.parquet(clean_dir).drop("_batch_id")
