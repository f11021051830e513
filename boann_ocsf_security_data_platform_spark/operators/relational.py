"""Relational operators Spark lacks as single primitives: as-of join,
per-group top-k. Everything else in SURVEY.md §2.7 (join family, aggregates,
windows, set ops, grouping sets) is declared directly through the DataFrame
API — see __spark_entry__.queries() for the full inventory — because
Catalyst's built-in strategies (broadcast vs sort-merge, partial aggs, AQE)
are exactly what we want; wrapping them would only hide the plan.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..storage import hadoop_fs


def topk_per_group(
    df: DataFrame, group_cols: list[str], order_col: str, k: int, desc: bool = True
) -> DataFrame:
    """Per-group top-k: window row_number ≤ k. Spark plans the sort as a
    partial per-partition top-k under AQE; for global LIMIT-style top-k
    Catalyst already emits TakeOrderedAndProject."""
    order = F.desc(order_col) if desc else F.asc(order_col)
    w = Window.partitionBy(*group_cols).orderBy(order)
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: spread each hot fact key over ``n_salts``
    shuffle partitions by salting, replicating the (small) dim side per
    salt. Semantically identical to ``fact.join(dim, key, how)``.

    Use when one key dominates (AQE skew-join splits oversized partitions
    post-shuffle, but salting also parallelizes the *map-side* build and
    works for aggregations feeding the join). The fact salt is
    row-deterministic (spark_partition_id + row position hash), never a
    key hash — hashing the key would put the whole hot key in one salt
    again.
    """
    spark = fact.sparkSession
    fact_s = fact.withColumn(
        "_salt", F.pmod(F.monotonically_increasing_id(), n_salts).cast("int")
    )
    salts = spark.range(n_salts).select(F.col("id").cast("int").alias("_salt"))
    dim_s = dim.crossJoin(F.broadcast(salts))
    return fact_s.join(dim_s, [key, "_salt"], how).drop("_salt")


def range_join_binned(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_start: str,
    right_end: str,
    bin_seconds: int = 86400,
) -> DataFrame:
    """Point-in-interval range join as an equi-join: ``left.key = right.key
    AND right_start <= left_ts < right_end``.

    A naive range join is a theta join — every (key-match) pair compared,
    quadratic per key. Binning makes it shuffle-friendly: intervals explode
    to the time bins they cover, points map to their single bin, and the
    join runs on ``(key, bin)`` with the exact range predicate re-applied —
    the same trick as Databricks' range-join hints, here in plain DataFrame
    ops. Cost scales with interval length / bin_seconds (pick bins near the
    typical interval length); no distinct pass is needed since a point's
    single bin meets each interval at most once.
    """
    bin_l = (F.unix_timestamp(F.col(left_ts)) / bin_seconds).cast("long")
    l = left.withColumn("_bin", bin_l)
    start_bin = (F.unix_timestamp(F.col(right_start)) / bin_seconds).cast("long")
    end_bin = (F.unix_timestamp(F.col(right_end)) / bin_seconds).cast("long")
    r = right.withColumn(
        "_bin", F.explode(F.sequence(start_bin, end_bin))
    )
    return (
        l.join(r, [key, "_bin"])
        .filter(
            (F.col(right_start) <= F.col(left_ts))
            & (F.col(left_ts) < F.col(right_end))
        )
        .drop("_bin")
    )


def deterministic_shuffle(
    df: DataFrame, id_col: str = "doc_id", seed: str = "epoch0"
) -> DataFrame:
    """Reproducible global shuffle for training-data ordering: order by a
    salted hash of the row id. The same (seed, id) always lands in the
    same position — across runs, engines, and cluster sizes — so epoch
    shuffles are replayable (seed = epoch label) and resumable mid-epoch.

    The sort is a Spark range-partitioned TotalOrder (sampled boundaries,
    fully parallel); md5 keys distribute uniformly so range partitions
    balance regardless of id skew. At 100 TB prefer writing the shuffled
    order once per epoch (the sort is the cost of a full repartition) and
    reading it back sequentially.
    """
    key = F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string")))
    return df.withColumn("_shuffle_key", key).orderBy("_shuffle_key")


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict,
    seed: int = 42,
) -> DataFrame:
    """Per-stratum Bernoulli sampling (``sampleBy``): downsample dominant
    classes while keeping rare ones — the training-data rebalancing step
    (e.g. cap 'en' web text at 10% while keeping 100% of low-resource
    languages). Distributed filter, no shuffle; counts are binomial around
    fraction × stratum size, deterministic for a fixed seed + partitioning.
    Strata absent from ``fractions`` are dropped (fraction 0.0)."""
    return df.sampleBy(strata_col, fractions, seed=seed)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist a table bucketed (and optionally sorted) by its join key.

    The 100 TB co-location play: two tables bucketed by the same key into
    the same bucket count join WITHOUT a shuffle — each task reads matching
    bucket files from both sides (plan shows SortMergeJoin with zero
    Exchange). Worth it for fact tables re-joined on the same key across
    many queries (e.g. landing/staging on finding_uid, lineitem on
    orderkey); the one-time bucketed write replaces a per-query shuffle of
    the big side. Pick n_buckets ≈ cluster cores × small multiple; it is
    fixed at write time, so size for the target scale, not today's.
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort:
        writer = writer.sortBy(bucket_col)
    writer.format("parquet").saveAsTable(table_name)


def recover_compaction(spark, path: str) -> str:
    """Finish or roll back a compaction interrupted between renames.

    State machine (``_SUCCESS`` written by the compaction job is the commit
    marker): if the table dir is missing but the pre-compact backup exists,
    the crash happened mid-swap — roll FORWARD (rename the completed
    ``__compacting`` output into place) when its ``_SUCCESS`` marker is
    present, otherwise roll BACK the backup. Leftover temp/backup dirs next
    to an intact table are stale and are cleared. Returns one of
    ``"clean" | "completed" | "rolled_back"``.
    """
    P = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    fs, src = hadoop_fs(spark, path)
    tmp = P(path.rstrip("/") + "__compacting")
    backup = P(path.rstrip("/") + "__pre_compact")

    if fs.exists(src):
        # table intact — anything else is debris from a finished/failed run
        if fs.exists(tmp):
            fs.delete(tmp, True)
        if fs.exists(backup):
            fs.delete(backup, True)
        return "clean"
    if fs.exists(tmp) and fs.exists(P(tmp.toString() + "/_SUCCESS")):
        fs.rename(tmp, src)  # compaction output is complete — roll forward
        if fs.exists(backup):
            fs.delete(backup, True)
        return "completed"
    if fs.exists(backup):
        fs.rename(backup, src)  # incomplete output — restore the original
        if fs.exists(tmp):
            fs.delete(tmp, True)
        return "rolled_back"
    raise FileNotFoundError(f"no table, backup, or completed output at {path}")


def compact_table(
    spark,
    path: str,
    target_partition_bytes: int = 128 * 1024 * 1024,
    partition_col: str | None = "load_date",
) -> int:
    """Small-file compaction for the append-only landing/staging tables.

    Streaming micro-batches and frequent appends accumulate many small
    parquet files; at scale that degrades scan planning and NameNode/
    listing pressure. Rewrites the table to ~target-sized files (returns
    the file count written), preserving the date partitioning, then swaps
    directories via two Hadoop FS renames.

    Crash-safe via :func:`recover_compaction`: the compacted output's
    ``_SUCCESS`` marker gates roll-forward vs roll-back, and every entry
    point (including this one) runs recovery first, so a crash at ANY
    point — during the rewrite, between the renames, before the backup
    delete — heals on the next call without manual intervention. Still NOT
    safe under concurrent writers: rows appended between the snapshot read
    and the swap are lost with the deleted backup. Callers must quiesce
    appends (stop the monitor stream / batch sweeps) for the duration.
    """
    import math

    recover_compaction(spark, path)  # heal any interrupted prior run

    fs, src = hadoop_fs(spark, path)
    total_bytes = fs.getContentSummary(src).getLength()
    n_files = max(1, math.ceil(total_bytes / target_partition_bytes))

    df = spark.read.option("mergeSchema", "true").parquet(path)
    tmp = path.rstrip("/") + "__compacting"
    writer = df.repartition(n_files).write.mode("overwrite")
    if partition_col and partition_col in df.columns:
        writer = writer.partitionBy(partition_col)
    writer.parquet(tmp)

    P = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    backup = P(path.rstrip("/") + "__pre_compact")
    tmp_path = P(tmp)
    fs.rename(src, backup)
    fs.rename(tmp_path, src)
    fs.delete(backup, True)
    return n_files


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    direction: str = "backward",
    right_tiebreak: str | None = None,
) -> DataFrame:
    """As-of join: for each left row, the single right row with the largest
    ``right_time`` ≤ ``left_time`` (direction='backward'; 'forward' is the
    smallest ≥; 'nearest' is the minimum |right_time − left_time| with
    ties going to the EARLIER right row — deterministic and documented,
    since engines disagree on nearest-tie conventions) within the same
    key.

    Composition of built-ins: range join + per-left-row rank-1. Correct and
    fully declarative, but the range join can fan out when many right rows
    precede each left row — prefer ``asof_join_pandas`` for dense time
    series at scale (co-partitioned merge_asof, no fan-out).

    ``right_tiebreak`` names a right column appended to the rank order:
    without it, two right rows sharing the winning ``right_time`` tie and
    row_number picks arbitrarily — pass a unique right key whenever
    right_time can repeat within a join key (the oracle-verified nearest
    entry does).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown asof direction: {direction!r}")
    lid = "_asof_left_id"
    l = left.withColumn(lid, F.monotonically_increasing_id())
    r = right.select(
        F.col(on).alias("_asof_key"),
        F.col(right_time).alias("_asof_rt"),
        *[
            F.col(c).alias(f"r_{c}")
            for c in right.columns
            if c not in (on, right_time)
        ],
    )
    if direction == "backward":
        cond = (l[on] == r["_asof_key"]) & (r["_asof_rt"] <= l[left_time])
        order = [F.desc("_asof_rt")]
    elif direction == "forward":
        cond = (l[on] == r["_asof_key"]) & (r["_asof_rt"] >= l[left_time])
        order = [F.asc("_asof_rt")]
    elif direction == "nearest":
        cond = l[on] == r["_asof_key"]
        # timestamp columns: timestampdiff, not unix_micros — NTZ-safe
        # (the driver parquet reads as TIMESTAMP_NTZ) and session-timezone
        # independent. Numeric/date time columns (epoch seconds, version
        # numbers) can't feed timestampdiff — fall back to plain
        # subtraction so 'nearest' accepts every orderable type
        # backward/forward do.
        from pyspark.sql import types as T

        lt_type = left.schema[left_time].dataType
        rt_type = right.schema[right_time].dataType
        if isinstance(lt_type, (T.TimestampType, T.TimestampNTZType)) and (
            isinstance(rt_type, (T.TimestampType, T.TimestampNTZType))
        ):
            dist = F.abs(
                F.expr(f"timestampdiff(MICROSECOND, {left_time}, _asof_rt)")
            )
        elif isinstance(lt_type, T.DateType) and isinstance(
            rt_type, T.DateType
        ):
            dist = F.abs(F.datediff(F.col("_asof_rt"), F.col(left_time)))
        else:
            dist = F.abs(
                F.col("_asof_rt").cast("double")
                - F.col(left_time).cast("double")
            )
        order = [F.asc(dist), F.asc("_asof_rt")]
    if right_tiebreak is not None:
        order.append(F.asc(f"r_{right_tiebreak}"))
    w = Window.partitionBy(lid).orderBy(*order)
    return (
        l.join(r, cond, "left")
        .withColumn("_asof_rn", F.row_number().over(w))
        .filter(F.col("_asof_rn") == 1)
        .drop("_asof_rn", "_asof_key", lid)
        .withColumnRenamed("_asof_rt", f"r_{right_time}")
    )


def asof_join_pandas(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    direction: str = "backward",
) -> DataFrame:
    """Scale-path as-of join: co-group both sides by key and run
    ``pd.merge_asof`` per group (Arrow-batched). One shuffle per side on
    the key, zero fan-out, memory bounded by the largest single key —
    salt the key or window the time range if one key dominates.
    """
    from pyspark.sql.types import StructField, StructType

    right_cols = [c for c in right.columns if c != on]
    schema = StructType(
        list(left.schema.fields)
        + [
            StructField(f"r_{f.name}", f.dataType, True)
            for f in right.schema.fields
            if f.name != on
        ]
    )
    out_names = [f.name for f in schema.fields]

    def merge(l_pdf: pd.DataFrame, r_pdf: pd.DataFrame) -> pd.DataFrame:
        if l_pdf.empty:
            return pd.DataFrame(columns=out_names)
        l_pdf = l_pdf.sort_values(left_time)
        r_pdf = (
            r_pdf.drop(columns=[on])
            .rename(columns={c: f"r_{c}" for c in right_cols})
            .sort_values(f"r_{right_time}")
        )
        if r_pdf.empty:
            merged = l_pdf.copy()
            for c in out_names:
                if c not in merged.columns:
                    merged[c] = None
        else:
            merged = pd.merge_asof(
                l_pdf,
                r_pdf,
                left_on=left_time,
                right_on=f"r_{right_time}",
                direction=direction,
            )
        return merged[out_names]

    return left.groupBy(on).cogroup(right.groupBy(on)).applyInPandas(merge, schema)


def asof_join_union(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    direction: str = "backward",
    right_tiebreak: str | None = None,
) -> DataFrame:
    """As-of join via the union + carry-forward window — the all-JVM
    scale path. Same output contract as :func:`asof_join_pandas` (left
    columns + ``r_``-prefixed right payload), same backward/forward
    semantics, but instead of co-grouped Python ``merge_asof`` (one
    Arrow/pandas round-trip PER KEY GROUP — measured 100 s at sf1 with
    ~30k sparse user groups, overhead-bound not data-bound) it is ONE
    union, ONE (key, time)-sorted window, and a filter:

      tag right rows 0 / left rows 1 → sort within key by (time, tag
      [, tiebreak]) → last(payload, ignorenulls) carries the most recent
      right row at or before each left row → keep left rows.

    Whole-stage-codegen end to end; cost is one shuffle+sort of
    |left| + |right| rows regardless of key cardinality — the dense AND
    the sparse key distributions both stay scan-bound. Equal-time rows
    order right-before-left, so a right row AT the left timestamp is
    visible (inclusive, matching merge_asof); among right rows sharing
    the winning time the LAST by ``right_tiebreak`` wins for backward
    (the first for forward) — pass a unique right key whenever
    right_time can repeat within a join key, exactly as the declarative
    :func:`asof_join` documents. 'nearest' is not offered here (it needs
    both directions; compose two passes or use asof_join)."""
    if direction not in ("backward", "forward"):
        raise ValueError(
            f"asof_join_union supports backward/forward, got {direction!r}"
        )
    from pyspark.sql.types import StructField, StructType

    rcols = [c for c in right.columns if c != on]
    if not rcols:
        # F.struct() over zero fields is invalid, and a payload-less as-of
        # join has nothing to carry — an existence probe is a plain join.
        raise ValueError(
            "asof_join_union: right side has no payload columns besides the"
            f" join key {on!r}; use a semi/equi join for existence checks"
        )
    reserved = {"_asof_t", "_asof_side", "_asof_pl", "_asof_tb", "_asof_c"}
    clash = (reserved | {f"r_{c}" for c in rcols}) & set(left.columns)
    if clash:
        raise ValueError(
            "asof_join_union: left columns collide with helper/output names"
            f" {sorted(clash)}; rename them before joining"
        )
    pl_type = StructType(
        [
            StructField(f"r_{c}", right.schema[c].dataType, True)
            for c in rcols
        ]
    )
    tb_type = (
        right.schema[right_tiebreak].dataType if right_tiebreak else None
    )
    r_side = right.select(
        F.col(on),
        F.col(right_time).alias("_asof_t"),
        F.lit(0).alias("_asof_side"),
        F.struct(
            *[F.col(c).alias(f"r_{c}") for c in rcols]
        ).alias("_asof_pl"),
        (
            F.col(right_tiebreak) if right_tiebreak else F.lit(0)
        ).alias("_asof_tb"),
        *[
            F.lit(None).cast(f.dataType).alias(f.name)
            for f in left.schema.fields
            if f.name != on
        ],
    )
    l_side = left.select(
        F.col(on),
        F.col(left_time).alias("_asof_t"),
        F.lit(1).alias("_asof_side"),
        F.lit(None).cast(pl_type).alias("_asof_pl"),
        F.lit(None).cast(tb_type if tb_type else "int").alias("_asof_tb"),
        *[F.col(c) for c in left.columns if c != on],
    )
    u = r_side.unionByName(l_side)
    if direction == "backward":
        order = [F.asc("_asof_t"), F.asc("_asof_side"), F.asc("_asof_tb")]
    else:
        order = [F.desc("_asof_t"), F.asc("_asof_side"), F.desc("_asof_tb")]
    w = (
        Window.partitionBy(on)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = F.last("_asof_pl", ignorenulls=True).over(w)
    out = (
        u.withColumn("_asof_c", carried)
        .filter(F.col("_asof_side") == 1)
        .select(
            *[F.col(c) for c in left.columns],
            *[
                F.col("_asof_c").getField(f"r_{c}").alias(f"r_{c}")
                for c in rcols
            ],
        )
    )
    return out


def hash_sample_bucket(id_col: Column | str, seed: str = "sample0") -> Column:
    """Deterministic sampling bucket in [0, 1e6): ``hash64(seed || id) %
    1_000_000``. Engine-portable (md5-based, see
    functions.hash_fns.DUCKDB_HASH64_SQL), so a keep/drop decision is
    reproducible across Spark, DuckDB, and any md5-capable engine — unlike
    ``sample``/``sampleBy``, whose draws depend on seed AND partitioning."""
    from ..functions.hash_fns import hash64

    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.pmod(
        hash64(F.concat(F.lit(seed + ":"), c.cast("string"))), F.lit(1000000)
    )


def mixture_sample(
    df: DataFrame,
    strata_col: str,
    weight: Column,
    id_col: str,
    seed: str = "mix0",
) -> DataFrame:
    """Resample a corpus to a target domain mixture, deterministically.

    ``weight`` is an (unnormalized) target-share expression over
    ``strata_col`` values; the operator finds the LARGEST total corpus the
    target mixture admits without upsampling any stratum (T_max =
    min over strata of count / share), derives each stratum's keep
    fraction, and keeps a row iff its portable hash bucket falls under the
    fraction — the training-mix rebalancing step (e.g. "web 60 / code 30 /
    books 10") as one declarative plan.

    Fully distributed: a per-stratum count aggregate (map-side combined),
    two one-row scalar aggregates carried via broadcast, a broadcast join
    of the tiny per-stratum fraction table back onto the corpus, and a
    scan-bandwidth hash filter. Nothing is collected to the driver, and
    the expected output size is exact per stratum (hash buckets are
    uniform), not binomial-noisy like ``sampleBy``.
    """
    # Keep the weight un-cast: integer weights sum EXACTLY (long), so the
    # derived doubles are bit-identical regardless of aggregation order —
    # summing doubles would make `share` depend on partial-agg order and
    # could flip rows sitting on a hash-bucket boundary between engines.
    counts = (
        df.groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("_w", weight)
    )
    wsum = counts.agg(F.sum("_w").alias("_wsum"))
    shares = counts.join(F.broadcast(wsum)).withColumn(
        "_share", F.col("_w") / F.col("_wsum")
    )
    t_max = shares.agg(F.min(F.col("_n") / F.col("_share")).alias("_t_max"))
    fracs = (
        shares.join(F.broadcast(t_max))
        .withColumn(
            "_frac",
            F.round(
                F.least(
                    F.lit(1.0),
                    F.col("_share") * F.col("_t_max") / F.col("_n"),
                ),
                6,
            ),
        )
        .select(strata_col, "_frac")
    )
    bucket = hash_sample_bucket(id_col, seed)
    return (
        df.join(F.broadcast(fracs), strata_col)
        .filter(bucket < F.col("_frac") * 1000000)
        .drop("_frac")
    )


def train_val_test_split(
    df: DataFrame,
    id_col: str,
    splits: tuple[tuple[str, float], ...] = (
        ("train", 0.8),
        ("val", 0.1),
        ("test", 0.1),
    ),
    seed: str = "split0",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment by hash bucket.

    Every row lands in exactly one split based on ``hash64(seed || id)``
    mod 1e6 against cumulative fraction thresholds — stable across reruns,
    repartitioning, cluster size, and engines (the md5-based bucket is
    reproducible in DuckDB/Postgres, unlike ``randomSplit``, whose
    assignment depends on partitioning). That stability is the property a
    training pipeline needs: a document's split never changes when the
    corpus grows, so eval contamination can't creep in through resharding.

    Shuffle-free, scan-bandwidth: one row-local hash + CASE per row.
    Fractions are normalized; the last split absorbs rounding remainder.
    """
    if len(splits) < 2:
        raise ValueError("need at least two splits")
    total = float(sum(f for _, f in splits))
    bucket = hash_sample_bucket(F.col(id_col), seed)
    cum = 0.0
    assign = F.lit(splits[-1][0])
    cases = []
    for name, frac in splits[:-1]:
        cum += frac / total
        cases.append((int(round(cum * 1_000_000)), name))
    expr = None
    for threshold, name in cases:
        cond = bucket < F.lit(threshold)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn(out_col, expr.otherwise(assign))


def sample_k_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    id_col: str,
    seed: str = "samp0",
) -> DataFrame:
    """Exactly min(k, group size) rows per group, chosen by deterministic
    hash order — the fixed-budget variant of :func:`stratified_sample`
    (which draws a binomial *fraction*). Use it when each stratum must
    contribute a hard row budget (k eval docs per language, k examples per
    label) regardless of stratum size.

    One shuffle on the group key; the rank-≤-k filter is planned as
    WindowGroupLimit (Spark ≥3.5), so each map task forwards at most k rows
    per group it sees before the exchange — per-reducer input is bounded by
    k × upstream partitions, not by the group's full size. Ordering by the
    portable ``hash64`` (ties broken by id) makes the draw reproducible
    across engines and immune to partitioning, unlike rand()-ordered
    row_number.
    """
    from ..functions.hash_fns import hash64

    order_key = hash64(
        F.concat(F.lit(seed + ":"), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy(group_col).orderBy(
        order_key.asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    seed: str = "wsamp0",
) -> DataFrame:
    """Weighted sample WITHOUT replacement of exactly ``k`` rows, where a
    row's inclusion probability is proportional to ``weight_col`` — the
    quality-weighted corpus selection step (sample documents ∝ quality
    score, examples ∝ importance weight).

    Efraimidis–Spirakis exponential-jitter keys: each row gets
    ``key = -ln(u) / w`` with ``u`` uniform in (0,1); the k SMALLEST keys
    are a correct weighted draw. ``u`` comes from the portable hash bucket
    (``(bucket + 0.5) / 1e6``), so the draw is deterministic across reruns,
    partitioning, and engines — no rand(), no driver-side pass.

    One scan + a global top-k that Catalyst plans as TakeOrderedAndProject
    (each partition ships only its local k rows). Weights must be > 0;
    nonpositive-weight rows are excluded (they have probability 0).
    """
    u = (hash_sample_bucket(F.col(id_col), seed) + F.lit(0.5)) / F.lit(1_000_000.0)
    key = -F.log(u) / F.col(weight_col)
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("_es_key", key)
        .orderBy(F.asc("_es_key"), F.asc(id_col))
        .limit(k)
        .drop("_es_key")
    )


def profile_keys(df: DataFrame, key_col: str, k: int = 20) -> DataFrame:
    """Join/aggregation key profiler: the ``k`` heaviest keys with their
    row counts and share of the table — the diagnosis step before choosing
    a skew mitigation (salting, AQE skew-join, broadcast).

    One map-side-combinable count aggregate, a broadcast one-row total, and
    a global top-k that Catalyst plans as TakeOrderedAndProject (each
    partition ships only its local top-k). Run it on both sides of a
    planned join: a key carrying >1% of a 100 TB table is a salting
    candidate."""
    total = df.agg(F.count(F.lit(1)).alias("_total"))
    return (
        df.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .join(F.broadcast(total))
        .select(
            key_col,
            "n_rows",
            F.round(F.col("n_rows") / F.col("_total"), 6).alias("share"),
        )
        .orderBy(F.desc("n_rows"), F.asc(key_col))
        .limit(k)
    )


def zorder_key(
    cols: list[Column | str],
    mins: list[float],
    maxs: list[float],
    bits: int = 16,
) -> Column:
    """Z-order (Morton) key over ``cols``: each column is min-max bucketed
    to ``bits`` bits, then the bucket bits are interleaved. Pure Column
    arithmetic (shifts/masks), whole-stage-codegen'd — no UDF.

    ``mins``/``maxs`` are the per-column value bounds (one stats aggregate
    upstream; pass constants for stable layouts across incremental writes).
    Bucket resolution 2^bits per column; 2 cols × 16 bits = a 32-bit key,
    well inside long range.
    """
    if not (cols and len(cols) == len(mins) == len(maxs)):
        raise ValueError("cols/mins/maxs must be equal-length and non-empty")
    if bits * len(cols) > 62:
        raise ValueError("bits * len(cols) must fit a signed long")
    scale = (1 << bits) - 1
    buckets = []
    for c, lo, hi in zip(cols, mins, maxs):
        c = F.col(c) if isinstance(c, str) else c
        span = float(hi) - float(lo)
        if span <= 0:
            buckets.append(F.lit(0).cast("long"))
            continue
        norm = (c.cast("double") - F.lit(float(lo))) / F.lit(span)
        clamped = F.least(F.greatest(norm, F.lit(0.0)), F.lit(1.0))
        buckets.append(F.floor(clamped * scale).cast("long"))
    n = len(buckets)
    key = F.lit(0).cast("long")
    # bit b of column i lands at position b*n + (n-1-i): column 0 owns the
    # most significant bit of each interleaved group
    for i, bkt in enumerate(buckets):
        for b in range(bits):
            bit = F.shiftright(bkt, b).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, b * n + (n - 1 - i)))
    return key


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 32,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as parquet laid out along a Z-order curve over ``cols``
    — the multi-column data-skipping play at 100 TB.

    A single-column sort gives perfect min/max pruning on that column and
    none on the others; range-partitioning + sorting by the interleaved
    :func:`zorder_key` gives every listed column locality ∝ 2^(bits/n), so
    a selective predicate on ANY of them skips most files via parquet
    footer stats (and most row groups within a file). The column bounds
    come from one min/max aggregate; ``repartitionByRange`` samples the key
    to build balanced file splits — both are single light passes before the
    write. Readers need nothing special: Spark's scan prunes from the same
    footer stats the layout narrowed.
    """
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"mn_{i}") for i, c in enumerate(cols)],
        *[F.max(c).cast("double").alias(f"mx_{i}") for i, c in enumerate(cols)],
    ).first()
    # an entirely-NULL column yields None bounds — degrade to the
    # degenerate span (bucket 0 for every row) instead of a TypeError
    mins = [stats[f"mn_{i}"] if stats[f"mn_{i}"] is not None else 0.0
            for i in range(len(cols))]
    maxs = [stats[f"mx_{i}"] if stats[f"mx_{i}"] is not None else 0.0
            for i in range(len(cols))]
    key = zorder_key(list(cols), mins, maxs, bits=bits)
    (
        df.withColumn("_zkey", key)
        .repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode(mode)
        .parquet(path)
    )


def distinct_sketches(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lg_k: int = 12,
) -> DataFrame:
    """Per-group HyperLogLog sketches (Apache DataSketches via Spark's
    ``hll_sketch_agg``) — the MERGEABLE distinct-count building block.

    At 100 TB you never re-scan history to refresh a distinct-users metric:
    build one sketch per (partition, day), persist the binary column, and
    answer any coarser rollup by unioning sketches (:func:`merge_distinct_
    sketches`) — seconds over kilobytes instead of a shuffle over
    terabytes. Error ~1.04/√2^lg_k (≈1.6% at lg_k=12); sketches union
    losslessly, so incremental daily builds compose exactly like one big
    aggregate.
    """
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("hll_sketch"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def merge_distinct_sketches(
    sketches: DataFrame,
    group_cols: list[str] | None = None,
    sketch_col: str = "hll_sketch",
) -> DataFrame:
    """Roll up persisted HLL sketches to a coarser grain (or to one global
    row when ``group_cols`` is None/empty) and estimate the distinct count.
    The union aggregate moves only the kilobyte sketch binaries; the raw
    data is never touched."""
    agg = [
        F.hll_sketch_estimate(F.hll_union_agg(sketch_col)).alias(
            "approx_distinct"
        ),
        F.sum("n_rows").alias("n_rows"),
    ]
    if group_cols:
        return sketches.groupBy(*group_cols).agg(*agg)
    return sketches.agg(*agg)


def upsert_table(
    spark,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
) -> None:
    """MERGE-style upsert into a parquet table: target rows whose key
    appears in ``updates`` are replaced, unseen keys are inserted
    (WHEN MATCHED UPDATE * / WHEN NOT MATCHED INSERT *). New columns in
    ``updates`` evolve the schema (``unionByName`` with missing-column
    fill).

    Parquet has no transactional MERGE; this reuses :func:`compact_table`'s
    crash-safe swap protocol — the merged table is fully written to a
    ``__compacting`` temp (materializing ``updates`` WHILE the target is
    still intact, so updates derived from the target itself are safe), then
    swapped in via two renames gated by the ``_SUCCESS`` marker.
    :func:`recover_compaction` heals a crash at any point, and every entry
    point runs it first. Same caveat as compaction: quiesce concurrent
    writers for the duration.

    Scale: one anti-join of the target against the distinct update keys
    (shuffle on the key — unavoidable for merge semantics without a
    transaction log; keep the target bucketed by the merge key via
    :func:`write_bucketed` to make it exchange-free) plus a full rewrite
    of the table. For high-frequency small updates prefer appending with a
    version column and resolving latest-per-key at read (the
    read-optimized vs write-optimized trade).
    """
    P = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    fs, src = hadoop_fs(spark, path)
    if not fs.exists(src):
        tmp = P(path.rstrip("/") + "__compacting")
        backup = P(path.rstrip("/") + "__pre_compact")
        if fs.exists(tmp) or fs.exists(backup):
            recover_compaction(spark, path)  # heal an interrupted swap
    if not fs.exists(src):
        updates.write.mode("errorifexists").parquet(path)
        return
    recover_compaction(spark, path)

    target = spark.read.option("mergeSchema", "true").parquet(path)
    keys = updates.select(*key_cols).distinct()
    kept = target.join(keys, key_cols, "left_anti")
    merged = kept.unionByName(updates, allowMissingColumns=True)

    tmp = path.rstrip("/") + "__compacting"
    merged.write.mode("overwrite").parquet(tmp)
    backup = P(path.rstrip("/") + "__pre_compact")
    fs.rename(src, backup)
    fs.rename(P(tmp), src)
    fs.delete(backup, True)


def profile_columns(
    df: DataFrame,
    cols: list[str],
    approx: bool = True,
) -> DataFrame:
    """Numeric-column data-quality profile in ONE aggregate pass: row
    count, nulls, distincts, min, max per column, returned long-format
    (one row per column) — the scan you run before trusting a new drop of
    data.

    ``approx=True`` (default) uses HyperLogLog distinct counts so the
    whole profile stays a single partial+final aggregate at any scale;
    ``approx=False`` gives exact distincts at the cost of Catalyst's
    Expand duplication (one data copy per profiled column in the shuffle
    — fine for validation runs, wasteful as a routine 100 TB scan). The
    wide→long pivot is a row-local ``stack`` of the single result row.
    """
    if not cols:
        raise ValueError("cols must be non-empty")
    # names are interpolated into the stack() expression string below —
    # restrict to identifier characters so a quoted/special name can't
    # break the expr (or smuggle SQL in from an untrusted schema)
    bad_names = [c for c in cols if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", c)]
    if bad_names:
        raise ValueError(
            f"profile_columns: non-identifier column names {bad_names}; "
            "rename (alias) them before profiling"
        )
    cd = F.approx_count_distinct if approx else F.count_distinct
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for i, c in enumerate(cols):
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"nn_{i}"),
            cd(c).alias(f"nd_{i}"),
            F.min(c).cast("double").alias(f"mn_{i}"),
            F.max(c).cast("double").alias(f"mx_{i}"),
        ]
    row = df.agg(*aggs)
    parts = ", ".join(
        f"'{c}', nn_{i}, nd_{i}, mn_{i}, mx_{i}" for i, c in enumerate(cols)
    )
    return row.select(
        "n_rows",
        F.expr(
            f"stack({len(cols)}, {parts}) AS "
            "(column_name, n_nulls, n_distinct, min_val, max_val)"
        ),
    ).select("column_name", "n_rows", "n_nulls", "n_distinct", "min_val", "max_val")


def quantile_bins(
    df: DataFrame,
    value_col: str,
    probs: tuple[float, ...] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Equi-depth discretization: bucket a numeric column by its own
    quantiles (bin = #thresholds strictly below the value, 1-based) — the
    feature-binning step that turns a heavy-tailed raw signal into a
    balanced categorical.

    One exact-percentile aggregate produces the boundary row, broadcast to
    every partition; the assignment is a row-local count over the tiny
    threshold array (``size(filter(...))``), so the whole operator is a
    scan plus a one-row broadcast — no shuffle of the data, and the SAME
    boundary table can be persisted and reused to bin future data
    consistently (the train/serve-skew guard). Use approx percentiles
    (``percentile_approx``) when the exact sort-based aggregate is too
    heavy at full scale.
    """
    if not probs:
        raise ValueError("probs must be non-empty")
    th = df.agg(
        F.percentile(value_col, F.array(*[F.lit(p) for p in probs])).alias("_th")
    )
    v = F.col(value_col)
    return (
        df.join(F.broadcast(th))
        .withColumn(
            "bin",
            (F.size(F.filter("_th", lambda t: v > t)) + 1).cast("long"),
        )
        .drop("_th")
    )


def bloom_semi_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    m_bits: int = 1 << 20,
    n_hashes: int = 5,
) -> DataFrame:
    """Semi join with an explicit broadcast-Bloom pre-filter: hash the
    small side's keys into an m-bit filter (represented as the sorted set
    of set bit positions riding a ONE-ROW frame), broadcast it, drop big-
    side rows failing any of the ``n_hashes`` membership probes map-side,
    then run the exact ``left_semi`` join on the survivors so false
    positives never reach the output — the result is bit-identical to a
    plain semi join (the DuckDB oracle).

    Scale: the point of the pattern is WHERE rows die. A plain semi join
    shuffles every big-side row to its key's reducer; here ~(1-ε) of
    non-matching rows die at the scan (ε = the Bloom false-positive rate,
    (1-e^{-kn/m})^k), so the shuffle carries only matches + εN. This is
    the hand-rolled form of Spark's own runtime bloom-filter join
    injection (spark.sql.optimizer.runtime.bloomFilter.*, whose
    bloom_filter_agg/might_contain expressions are not exposed to the
    public function registry) — kept explicit so the plan is pinnable and
    the filter reusable across queries.

    The filter is a REAL packed bitmap — an array of m/64 longs riding a
    one-row broadcast frame (m=2²⁰ → 16 K longs = 128 KB) — probed with
    element_at + a bit test: O(1) per probe, whole-stage codegen'd. (The
    obvious position-set + array_contains representation is O(|small|·k)
    PER BIG ROW — measured 21.8 s vs sub-second on 150 K probes against a
    3 K-key dim.) Build cost: one explode + bit_or aggregate over
    |small|·k positions, one 16 K-row densify + ordered collect.
    """
    n_words = (m_bits + 63) // 64

    def probes(col: Column) -> Column:
        return F.array(
            *[
                F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m_bits))
                for i in range(n_hashes)
            ]
        )

    words = (
        small.select(F.explode(probes(F.col(key))).alias("_pos"))
        .select(
            (F.col("_pos") / 64).cast("long").alias("_w"),
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (F.col("_pos") % 64).cast("int")
            ).alias("_b"),
        )
        .groupBy("_w")
        .agg(F.bit_or("_b").alias("_word"))
    )
    # densify to a positional long array (absent words -> 0) via one
    # ordered collect of (word_index, word) structs — 16 K structs/row
    bloom = (
        small.sparkSession.range(n_words)
        .withColumnRenamed("id", "_w")
        .join(words, "_w", "left")
        .select(
            F.struct(
                F.col("_w"), F.coalesce("_word", F.lit(0)).alias("_word")
            ).alias("_s")
        )
        .agg(
            F.transform(
                F.array_sort(F.collect_list("_s")), lambda s: s["_word"]
            ).alias("_bloom")
        )
    )
    def hit(p: Column) -> Column:
        word = F.element_at(F.col("_bloom"), (p / 64).cast("int") + 1)
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("long"), (p % 64).cast("int")
        )
        return word.bitwiseAND(mask) != 0
    pruned = (
        big.join(F.broadcast(bloom))
        .where(F.forall(probes(F.col(key)), hit))
        .drop("_bloom")
    )
    return pruned.join(small.select(key).distinct(), key, "left_semi")


def merge_partial_aggs(
    a: DataFrame,
    b: DataFrame,
    keys: list[str],
    sum_cols: tuple[str, ...] = (),
    min_cols: tuple[str, ...] = (),
    max_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Merge two partial-aggregate tables (same keys, same measure
    columns) into the aggregate of the union of their inputs — the
    incremental-view-maintenance primitive: keep yesterday's rollup, roll
    up only today's delta, merge, never re-scan history. Works for any
    decomposable measure: sums and counts add (count IS a sum of 1s),
    mins/maxes take least/greatest; avg = merged sum / merged count.

    Keys present in only one side pass through (full-outer join);
    ``F.least``/``F.greatest`` skip NULLs, so a key missing from one side
    keeps the other side's extreme, and absent sums coalesce to 0.

    Scale: the merge joins |distinct keys| rows — model-sized, not
    data-sized. Re-aggregating 100 TB of history to absorb a 100 GB day
    is the anti-pattern this replaces; the merge itself is one key-
    partitioned join of two rollup tables (broadcast when the key space
    is bounded). The same function is the ``foreachBatch`` body for a
    streaming continuously-maintained rollup.
    """
    keys = list(keys)
    vals = [*sum_cols, *min_cols, *max_cols]
    b2 = b.select(*keys, *[F.col(c).alias(f"_r_{c}") for c in vals])
    out = [*[F.col(k) for k in keys]]
    for c in sum_cols:
        out.append(
            (
                F.coalesce(F.col(c), F.lit(0))
                + F.coalesce(F.col(f"_r_{c}"), F.lit(0))
            ).alias(c)
        )
    for c in min_cols:
        out.append(F.least(F.col(c), F.col(f"_r_{c}")).alias(c))
    for c in max_cols:
        out.append(F.greatest(F.col(c), F.col(f"_r_{c}")).alias(c))
    return a.join(b2, keys, "full_outer").select(*out)


def count_min_sketch_agg(
    df: DataFrame,
    col: str,
    eps: float = 0.001,
    confidence: float = 0.99,
    seed: int = 42,
) -> DataFrame:
    """One-row frame holding a serialized Count-Min sketch of ``col`` —
    the mergeable frequency sketch (kilobytes per partition, merged
    associatively by the JVM aggregate) whose point estimates obey
    ``true <= est <= true + eps*N`` with probability ``confidence``.
    Deterministic for a fixed seed. Pairs with the HLL distinct sketches
    (`distinct_sketches`) as the second classic mergeable summary: HLL
    answers "how many distinct", CMS answers "how often does X occur"
    without materializing a |vocab|-sized table.
    """
    return df.agg(
        F.expr(
            f"count_min_sketch({col}, {eps}d, {confidence}d, {seed})"
        ).alias("cms")
    )


def cms_estimate(spark, sketch_bytes, items: list):
    """Driver-side point queries against a serialized CMS (the sketch is
    kilobytes — querying it is a driver concern, like reading any model).
    Returns {item: estimated_count}.

    Numeric items are coerced to java.lang.Long explicitly so the probe
    hashes identically to the long-typed entries an integral-column
    sketch contains, regardless of which boxed type Py4J would pick for
    a small Python int. (Spark's estimateCount(Object) also normalizes
    integrals via integralToLong, so this is belt-and-braces — pinned by
    test_cms_numeric_items.)"""
    jvm = spark.sparkContext._jvm
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        bytes(sketch_bytes)
    )

    def _coerce(it):
        if isinstance(it, bool):
            raise TypeError("CMS items must be int/str, not bool")
        if isinstance(it, int):
            return jvm.java.lang.Long.valueOf(it)
        if isinstance(it, str):
            return it
        raise TypeError(f"unsupported CMS item type: {type(it).__name__}")

    return {it: cms.estimateCount(_coerce(it)) for it in items}


def temperature_sample(
    df: DataFrame,
    strata_col: str,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    seed: str = "temp0",
) -> DataFrame:
    """Temperature-based mixture rebalancing (the multilingual-pretraining
    alpha-sampling recipe): target share per stratum ∝ (its natural
    share)^alpha, which flattens the head and boosts the tail as alpha→0
    while alpha=1 is a no-op mixture. Delegates to ``mixture_sample`` with
    weight count^alpha — so it inherits the largest-admissible-total,
    no-upsampling, deterministic-hash-selection semantics and the same
    fully-distributed plan (per-stratum counts, broadcast fraction table,
    scan-bandwidth hash filter). The weight is scaled to an EXACT integer
    (floor(n^alpha * 1e6) as long, ~6 significant decimals) so the weight
    SUM is a long — bit-identical under any partial-aggregation order —
    honoring mixture_sample's integer-weight invariant; a double weight
    would make the sum order-dependent and could flip rows sitting on a
    hash-bucket boundary between engines.
    """
    return mixture_sample(
        df,
        strata_col,
        weight=F.floor(
            F.pow(F.col("_n"), F.lit(alpha)) * F.lit(1000000.0)
        ).cast("long"),
        id_col=id_col,
        seed=seed,
    )


def table_diff(
    a: DataFrame,
    b: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Snapshot diff between two versions of a table: full-outer join on
    the key with null-safe per-column comparison, labeling every key as
    ``added`` (only in b), ``removed`` (only in a), ``changed`` (present
    in both, any compared column differs) or ``unchanged`` — the
    reconciliation primitive behind data-migration sign-off, CDC
    backfills, and "what did yesterday's load actually change".

    Returns one row per key: the (coalesced) key columns + ``diff_status``.
    Scale: one key-partitioned full-outer join; comparison is row-local.
    For wide tables at 100 TB, pre-hash the compared columns into one
    fingerprint per side (xxhash64) so the shuffle carries keys + 8 bytes
    instead of whole rows — semantics identical when the hash is over the
    same column list.
    """
    cols = compare_cols or [c for c in a.columns if c not in keys]
    an = a.select(*keys, *cols)
    bn = b.select(*keys, *cols)
    cond = [F.col(f"a.{k}").eqNullSafe(F.col(f"b.{k}")) for k in keys]
    j = an.alias("a").join(bn.alias("b"), cond, "full_outer")
    changed = None
    for c in cols:
        neq = ~F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}"))
        changed = neq if changed is None else (changed | neq)
    status = (
        F.when(F.col(f"b.{keys[0]}").isNull(), F.lit("removed"))
        .when(F.col(f"a.{keys[0]}").isNull(), F.lit("added"))
        .when(changed, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(
        *[
            F.coalesce(F.col(f"a.{k}"), F.col(f"b.{k}")).alias(k)
            for k in keys
        ],
        status.alias("diff_status"),
    )


def ks_statistic(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    alpha_c: float = 1.36,  # c(alpha) for alpha = 0.05
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test: D = sup |ECDF_a − ECDF_b|
    between the ``value_col`` distributions of two groups, with the
    large-sample critical value ``c(α)·sqrt((n_a+n_b)/(n_a·n_b))`` and
    the reject flag — the distribution-shift companion to the PSI /
    chi-square / JSD drift family (KS is binning-free).

    Distributed shape: collapse to per-distinct-value counts FIRST (one
    hash aggregate over (value, group) — at 100 TB this is the only pass
    over the data), then ECDFs are running sums over the ordered distinct
    values. The ordered window runs on the distinct-value table (bounded
    by value cardinality, not row count); D evaluates AT each distinct
    value after both ECDFs step — the correct tie handling (both ECDFs
    jump before the sup is taken). Integer counts divide once at the
    end, so the statistic is exact up to one rounding.
    """
    v = (
        df.filter(F.col(group_col).isin([group_a, group_b]))
        .groupBy(
            F.col(value_col).alias("_v"),
            (F.col(group_col) == group_a).alias("_is_a"),
        )
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    per_val = v.groupBy("_v").agg(
        F.sum(F.when(F.col("_is_a"), F.col("_n")).otherwise(0)).alias("_na"),
        F.sum(F.when(~F.col("_is_a"), F.col("_n")).otherwise(0)).alias("_nb"),
    )
    # totals as empty-frame windows over the SAME ordered pass the ECDFs
    # use — a separate aggregate + join would rebuild the whole
    # join+aggregate subplan a second time (two scans of both inputs);
    # this way the raw tables are read exactly once (plan-pinned)
    wd = Window.orderBy("_v").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("_v").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    stepped = per_val.select(
        F.sum("_na").over(wd).alias("_ca"),
        F.sum("_nb").over(wd).alias("_cb"),
        F.sum("_na").over(wall).alias("n_a"),
        F.sum("_nb").over(wall).alias("n_b"),
    )
    d = F.max(
        F.abs(
            F.col("_ca") / F.col("n_a") - F.col("_cb") / F.col("n_b")
        )
    ).alias("_d")
    # cast BEFORE multiplying: long n_a*n_b overflows past ~3e9 rows per
    # side (silently wraps negative with ANSI off -> NaN critical value)
    crit = F.lit(alpha_c) * F.sqrt(
        (F.col("n_a") + F.col("n_b"))
        / (F.col("n_a").cast("double") * F.col("n_b"))
    )
    return (
        stepped.agg(F.max("n_a").alias("n_a"), F.max("n_b").alias("n_b"), d)
        .select(
            "n_a",
            "n_b",
            F.round("_d", 6).alias("ks_stat"),
            F.round(crit, 6).alias("critical_value"),
            (F.col("_d") > crit).alias("reject_h0"),
        )
    )
