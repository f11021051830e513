"""Streaming corpus-curation funnel: the four per-stage streaming mirrors
composed into ONE ``foreachBatch`` pipeline over the same micro-batches.

Stage order (the batch discipline, applied per batch):

  raw -> exact dedup -> near-dup -> quality gate -> decontamination

Each stage reuses the exact library expressions its standalone mirror
uses (streaming/exactdedup.py, streaming/neardup.py, streaming/decontam.py
— which in turn share one code path with operators/dedup.py and
operators/text.py), so the composed funnel cannot drift from the
per-stage parity suites. What is NEW here is the composition and its
ordering semantics:

- exact dedup feeds near-dup: only exact-dedup SURVIVORS are shingled and
  banded, and only they enter the band-key store (an exact duplicate can
  never block a later near-duplicate it would not block in batch).
- near-dup survivorship is ORDER-FREE by construction: a document is
  dropped iff it has a candidate pair with a SMALLER id (vs the store —
  all earlier-batch exact-survivors — or within its own batch). Run over
  the same corpus this equals the batch rule "drop every id_b of
  minhash_near_dup_pairs(exact_survivors)" exactly, with no global
  connected-components pass — deliberately stricter than cluster-min-keep
  (no transitive rescue), because it is the policy that is IDENTICAL in
  batch and stream. Requires ids monotone with arrival order, the same
  contract streaming/exactdedup.py documents.
- the quality gate is row-local (text_quality score + token floor — the
  same thresholds as the batch corpus_curation_funnel entry) and keeps no
  state.
- decontamination is memoryless (static benchmark shingle set, broadcast
  per batch).

Outputs, all batch_id-keyed dynamic partition overwrites (replays
overwrite their own partition — the landing-sink exactly-once recipe):
surviving documents under ``survivors_dir`` and a per-batch per-stage
count table under ``counts_dir`` whose cross-batch rollup
(:func:`read_funnel_report`) matches the batch composition's funnel.

Scale posture (100 TB): per batch, exact dedup is one hash-aggregate +
one anti-join against a two-column store; near-dup is row-local
shingle/sign/band work + one equi-join against a three-column band store;
quality is a projection; decontamination is one broadcast semi-join.
State = the two stores, both pruned by the ``storage.prune_batches`` valve
(dedup-within-horizon).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import normalize_text
from ..operators.text import text_quality
from ..storage import hadoop_fs, read_batches, start_batches, write_batch
from .decontam import benchmark_shingles
from .exactdedup import _store_schema as _hash_store_schema
from .neardup import _band_keys_for_batch
from .neardup import _store_schema as _band_store_schema

_COUNT_STAGES = (
    "s0_raw",
    "s1_exact_dedup",
    "s2_near_dup",
    "s3_quality",
    "s4_decontaminated",
    # "s5_indexed" appears only when ivf_index_dir is passed (the optional
    # index-append stage completing the ingest -> curate -> index lifecycle)
)


def start_curation_funnel_stream(
    stream_df: DataFrame,
    benchmark: DataFrame,
    hash_store_dir: str,
    band_store_dir: str,
    survivors_dir: str,
    counts_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 16,
    n_bands: int = 4,
    min_quality: float = 0.75,
    min_tokens: int = 10,
    available_now: bool = False,
    trigger_seconds: int = 5,
    ivf_index_dir: str | None = None,
    embedding_col: str = "embedding",
):
    """Attach the composed curation funnel to a streaming document frame.

    Emits surviving documents under ``survivors_dir`` and one
    (stage, n_docs) row per stage per batch under ``counts_dir``. Returns
    ``(StreamingQuery, release)`` — call ``release()`` after stopping to
    free the persisted benchmark shingle set.

    Optional fifth stage (round-8 verdict item #5 — the ingest → curate →
    index lifecycle): pass ``ivf_index_dir`` pointing at an EXISTING
    persisted IVF index (``operators.similarity.build_ivf_index``) and a
    stream that carries ``embedding_col``; each batch's survivors are
    appended to the index via
    ``append_to_ivf_index(..., batch_id=batch_id)`` — assignment to the
    frozen centroids, written as a ``(cent_id, _batch_id)`` dynamic
    partition overwrite, so a replayed batch overwrites exactly its own
    partitions (the landing-sink exactly-once recipe; mirrors the
    reference monitor's at-least-once disposition,
    scripts/ocsf_monitor.py:120-207). The counts table gains an
    ``s5_indexed`` row when the stage is on."""
    spark = stream_df.sparkSession
    id_type = stream_df.schema[id_col].dataType
    b_sh = benchmark_shingles(benchmark, text_col, k).persist()
    b_sh.count()  # materialize once, before the first batch

    def _funnel(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.localCheckpoint()  # scanned by 4 stages

        # -- s1: exact dedup (streaming/exactdedup.py semantics) --------
        winners = (
            batch_df.select(
                F.md5(normalize_text(F.col(text_col))).alias("content_hash"),
                F.col(id_col),
            )
            .groupBy("content_hash")
            .agg(F.min(id_col).alias(id_col))
        )
        # REPLAY GUARD: a replayed batch finds its OWN partition already in
        # the store; reading only strictly-earlier batches makes the replay
        # recompute the exact original result (the standalone mirrors get
        # idempotency from empty-dynamic-overwrite being a no-op, but the
        # counts sink below is never empty, so the funnel needs the guard)
        prev_hashes = (
            read_batches(
                spark, hash_store_dir, _hash_store_schema(id_col, id_type)
            )
            .filter(F.col("_batch_id") < F.lit(batch_id))
            .select("content_hash")
        )
        s1_ids = winners.join(
            prev_hashes, "content_hash", "left_anti"
        ).localCheckpoint()  # pinned BEFORE the store overwrite below
        s1 = batch_df.join(s1_ids.select(id_col), id_col)

        # -- s2: near-dup (streaming/neardup.py banding; drop-if-smaller-
        # partner survivorship) ------------------------------------------
        bands = _band_keys_for_batch(
            s1, text_col, id_col, k, n_hashes, n_bands
        ).localCheckpoint()  # pinned BEFORE the band-store overwrite
        prev_bands = (
            read_batches(
                spark, band_store_dir, _band_store_schema(id_col, id_type)
            )
            .filter(F.col("_batch_id") < F.lit(batch_id))  # replay guard
            .select(F.col(id_col).alias("_prev_id"), "band_idx", "band_hash")
        )
        # ids are monotone with arrival: every store partner is smaller
        dropped_vs_store = (
            bands.join(prev_bands, ["band_idx", "band_hash"])
            .filter(F.col("_prev_id") != F.col(id_col))
            .select(id_col)
        )
        a, b = bands.alias("a"), bands.alias("b")
        dropped_within = a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") > F.col(f"b.{id_col}")),
        ).select(F.col(f"a.{id_col}").alias(id_col))
        dropped = dropped_vs_store.unionByName(dropped_within).distinct()
        s2 = s1.join(dropped, id_col, "left_anti").localCheckpoint()

        # -- s3: quality gate (corpus_curation_funnel thresholds) --------
        # pinned like s1_ids/s2/s4: s3 feeds both the s4 chain and the
        # stage-counts sink, so without the checkpoint text_quality would
        # score every document twice per micro-batch
        s3 = (
            text_quality(s2, text_col)
            .where(
                (F.col("quality_score") >= F.lit(min_quality))
                & (F.col("n_tokens") >= F.lit(min_tokens))
            )
            .select(*s2.columns)
            .localCheckpoint()
        )

        # -- s4: decontamination (streaming/decontam.py probe) -----------
        from ..operators.dedup import with_hashed_shingles

        c_sh = with_hashed_shingles(s3, text_col, k).select(
            id_col, F.explode("shingle_hashes").alias("_sh")
        )
        contaminated = (
            c_sh.join(F.broadcast(b_sh), "_sh", "left_semi")
            .select(id_col)
            .distinct()
        )
        s4 = s3.join(contaminated, id_col, "left_anti").localCheckpoint()

        # -- s5 (optional): append survivors' embeddings to the persisted
        # IVF index — batch-id keyed dynamic overwrite, replay-safe ------
        n_indexed = None
        if ivf_index_dir is not None:
            from ..operators.similarity import append_to_ivf_index

            vecs = s4.select(id_col, embedding_col).filter(
                F.col(embedding_col).isNotNull()
            )
            append_to_ivf_index(
                vecs,
                ivf_index_dir,
                id_col=id_col,
                vec_col=embedding_col,
                batch_id=batch_id,
            )
            n_indexed = vecs.count()

        # -- sinks (batch-id dynamic overwrite; stores written LAST, after
        # every reader of the previous store generation has been pinned) -
        write_batch(s4, survivors_dir, batch_id)
        count_rows = [
            ("s0_raw", batch_df.count()),
            ("s1_exact_dedup", s1_ids.count()),
            ("s2_near_dup", s2.count()),
            ("s3_quality", s3.count()),
            ("s4_decontaminated", s4.count()),
        ]
        if n_indexed is not None:
            count_rows.append(("s5_indexed", n_indexed))
        counts = spark.createDataFrame(
            count_rows,
            "stage string, n_docs long",
        )
        write_batch(counts, counts_dir, batch_id)
        write_batch(s1_ids, hash_store_dir, batch_id)
        write_batch(bands, band_store_dir, batch_id)

    query = start_batches(
        stream_df, _funnel, checkpoint_dir, trigger_seconds, available_now
    )
    return query, b_sh.unpersist


def last_committed_batch(spark: SparkSession, checkpoint_dir: str):
    """Highest batch id the streaming checkpoint has COMMITTED, or None
    before the first commit. Read straight from the checkpoint's commit
    log (``<checkpoint>/commits/<batchId>`` markers — Structured
    Streaming writes one per fully-committed micro-batch) via the Hadoop
    FS API, so any checkpoint scheme works. A committed batch is the one
    kind of batch ``foreachBatch`` never replays — which makes this the
    safe fold bound for :func:`compact_funnel_index`."""
    fs, commits = hadoop_fs(spark, checkpoint_dir.rstrip("/") + "/commits")
    if not fs.exists(commits):
        return None
    best = None
    for st in fs.listStatus(commits):
        name = st.getPath().getName()
        if name.isdigit():
            b = int(name)
            if best is None or b > best:
                best = b
    return best


def compact_funnel_index(
    spark: SparkSession, ivf_index_dir: str, checkpoint_dir: str
) -> int:
    """Checkpoint-gated maintenance for the funnel's index stage: fold
    the per-batch ``(cent_id, _batch_id)`` append partitions that the
    funnel's OWN checkpoint has committed into the index's base
    generation, and return the base-generation row count. Batches at or
    past the replay frontier (no commit marker yet) keep their own
    partitions, so a crash-replay still lands as a dynamic overwrite of
    its original partition — never next to a folded copy of itself.

    Run it between stream runs (or with the query stopped): the
    checkpoint gate makes the fold REPLAY-safe, but the underlying
    directory swap is still not atomic for a concurrent writer or
    reader (``operators.similarity.compact_ivf_index`` contract). A
    no-op when nothing has committed or nothing is foldable."""
    from ..operators.similarity import compact_ivf_index

    last = last_committed_batch(spark, checkpoint_dir)
    if last is None:
        return 0
    return compact_ivf_index(spark, ivf_index_dir, up_to_batch=last)


def read_funnel_survivors(spark: SparkSession, survivors_dir: str) -> DataFrame:
    """All documents that survived the full funnel so far."""
    return spark.read.parquet(survivors_dir).drop("_batch_id")


def read_funnel_report(spark: SparkSession, counts_dir: str) -> DataFrame:
    """Cross-batch funnel rollup: one (stage, n_docs) row per stage,
    summed over batches — the streaming analog of the batch
    corpus_curation_funnel report shape."""
    return (
        spark.read.parquet(counts_dir)
        .groupBy("stage")
        .agg(F.sum("n_docs").alias("n_docs"))
        .orderBy("stage")
    )
