"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — exact, a broadcast-nested-loop of
|queries| × |corpus| dot products, entirely JVM-side (``zip_with`` +
``aggregate``), no Python. Right answer when |queries| is small.

Scale path: LSH bucketing by random-hyperplane sign bits turns the scan
into an equi-join on bucket id — probe only the colliding bucket(s).
Approximate (recall < 1), so it is deliberately a separate operator; the
exact operator stays the semantic reference.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..storage import hadoop_fs


def _corpus_sized(df: DataFrame, pin: bool = True) -> DataFrame:
    """Pin a corpus-scaling join input (blocked vector frames, dedup
    survivor/loser id sets) to sort-merge — Catalyst's size estimate for
    these frames underestimates through explode/aggregate and can pick a
    broadcast build that OOMs at scale (see operators.dedup._corpus_sized,
    where the 10x sweep caught exactly that). Bounded model tables
    (centroids, query panels, codebooks) stay explicit ``F.broadcast``.
    ``pin=False`` keeps planner freedom — callers thread it from a
    MEASURED vector count (gates.pin_shuffle_join)."""
    return df.hint("merge") if pin else df


def _dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision, left-to-right accumulation (matches
    DuckDB's list_dot_product over DOUBLE[] for oracle comparability)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine_sim(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _hoisted_cosine(q_norm: str = "_qn", c_norm: str = "_cn") -> Column:
    """dot / (precomputed-norm product) — bit-identical to
    :func:`cosine_sim` (same ``_dot`` fold, same sqrt values, same
    multiply), but each side's norm is evaluated ONCE per input row via a
    pre-join projection instead of once per PAIR. On a block/broadcast
    join of m candidates x q queries this removes ~2 of the 3 per-pair
    64-element reductions (measured 2.0-2.6x on the hubness profile)."""
    return _dot(F.col("q_vec"), F.col("c_vec")) / (
        F.col(q_norm) * F.col(c_norm)
    )



def _centroid_score_array(
    vec: Column,
    cents: list[tuple[int, list[float]]],
    decimals: int | None = None,
) -> Column:
    """Array of (ncs = −cosine, cent_id) structs scoring ``vec`` against
    every centroid — sorted ascending this is (cos desc, cent_id asc).

    Built as ONE ``transform`` over a single literal struct array instead
    of k independent cosine expression trees: the cosine logic appears
    once in the plan, so Catalyst analyzes/optimizes/codegens it once
    (measured 3.4× on the sf0.1 k-means train loop, where the k-copy tree
    made COMPILE time dominate a 2000-row scan — and the gap grows with
    k). Runtime math is bit-identical to the unrolled form: the same
    left-to-right ``_dot`` fold, and centroid norms precomputed in Python
    with the identical summation order."""
    cent_arr = F.array(
        *[
            F.struct(
                F.lit(int(cid)).alias("cid"),
                F.array(*[F.lit(float(x)) for x in cv]).alias("cv"),
                F.lit(
                    math.sqrt(sum(float(x) * float(x) for x in cv))
                ).alias("cn"),
            )
            for cid, cv in cents
        ]
    )
    nv = _norm(vec)

    def _score(c):
        cos = _dot(vec, c["cv"]) / (nv * c["cn"])
        if decimals is not None:
            cos = F.round(cos, decimals)
        return F.struct((-cos).alias("ncs"), c["cid"].alias("cent_id"))

    return F.transform(cent_arr, _score)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector.

    ``broadcast(queries)`` → nested-loop join → per-query top-k via
    row_number. Excludes self-matches when ids collide. The corpus is
    never shuffled: each task scans its corpus split against the broadcast
    queries and emits k rows per query partial, so the final shuffle is
    tiny (|queries| × k × partitions upper bound, cut down by AQE).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("_qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        _norm(F.col(vec_col)).alias("_cn"),
    )
    sim = F.round(_hoisted_cosine(), 6)
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random unit-ish hyperplanes (md5-seeded),
    reproducible across runs and engines."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"hp-{p}-{d}".encode()).hexdigest()[:8], 16)
            row.append((h / 0xFFFFFFFF) * 2.0 - 1.0)
        norm = math.sqrt(sum(x * x for x in row)) or 1.0
        planes.append([x / norm for x in row])
    return planes


def _plane_projection(vec: Column, plane: list[float]) -> Column:
    """``vec · plane`` with the plane inlined as literals — the ONE
    expression shared by :func:`lsh_bucket` (its sign is the bucket bit)
    and :func:`random_projection` (its value is the JL coordinate), so
    the pinned sign-bit equivalence between the two cannot drift apart
    through an edit to one copy."""
    lit_plane = F.array(*[F.lit(x) for x in plane])
    return F.aggregate(
        F.zip_with(vec, lit_plane, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def lsh_bucket(vec: Column, n_planes: int, dim: int) -> Column:
    """Random-hyperplane LSH bucket id: one sign bit per plane."""
    bucket = F.lit(0)
    for p, plane in enumerate(_hyperplanes(n_planes, dim)):
        proj = _plane_projection(vec, plane)
        bucket = bucket + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: probe only the query's LSH bucket.

    Equi-join on bucket id instead of a full scan — at 1000 executors this
    is a plain shuffled hash join keyed by bucket, ~2^n_planes-fold less
    comparison work, with recall traded off via n_planes.
    """
    cb = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        _norm(F.col(vec_col)).alias("_cn"),
        lsh_bucket(F.col(vec_col), n_planes, dim).alias("bucket"),
    )
    qb = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("_qn"),
        lsh_bucket(F.col(vec_col), n_planes, dim).alias("bucket"),
    )
    sim = F.round(_hoisted_cosine(), 6)
    scored = (
        cb.join(F.broadcast(qb), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    centroids: list[tuple[int, list[float]]] | None = None,
    max_cosine: float | None = None,
) -> DataFrame:
    """Approximate top-k via IVF-Flat: partition the corpus into inverted
    lists by nearest centroid, probe only the query's ``n_probe`` closest
    lists.

    Default centroids are a deterministic sample (lowest ids) —
    reproducible across engines and good enough for recall testing; pass
    ``centroids`` from :func:`train_ivf_centroids` for the trained-model
    path (better-balanced lists → better recall at the same n_probe); the
    subset-of-brute-force and full-probe-equals-exact invariants hold for
    ANY centroid set. The centroid set is a bounded model
    parameter (n_centroids × dim floats), so it is collected once and
    inlined as literals: per-row assignment becomes a PURE PROJECTION
    (array of (−cos, cent_id) structs → array_sort → slice) — no
    cross-join fan-out, no window shuffle, the corpus is never shuffled
    for assignment. Candidate probing is then an equi-join on ``cent_id``,
    so at 1000 executors it is a plain hash join keyed by list id — the
    same shape a warehouse IVF index gives you. Recall rises with
    ``n_probe`` (= exact when n_probe >= n_centroids).
    """
    if centroids is not None:
        from collections import namedtuple

        _C = namedtuple("_C", ["cent_id", "cent_vec"])
        # n_probe > len(cents) degrades gracefully: slice past the end of
        # the scored array just probes every list (= full probe)
        cents = [_C(int(cid), list(vec)) for cid, vec in centroids]
    else:
        cents = (
            corpus.orderBy(id_col)
            .limit(n_centroids)
            .select(
                F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec")
            )
            .collect()  # bounded: the IVF "model", not data
        )

    def _assign(df: DataFrame, idc: str, vecc: str, n_best: int) -> DataFrame:
        # (−cos, cent_id) sorts ascending == (cos desc, cent_id asc);
        # single-transform scoring — see _centroid_score_array
        scored = _centroid_score_array(
            F.col(vecc), [(c.cent_id, list(c.cent_vec)) for c in cents]
        )
        best = F.slice(F.array_sort(scored), 1, n_best)
        return df.select(
            idc, vecc, F.explode(F.transform(best, lambda s: s.cent_id)).alias("cent_id")
        )

    cb = _assign(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
        ),
        "neighbor_id",
        "c_vec",
        1,
    )
    qb = _assign(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        ),
        "query_id",
        "q_vec",
        n_probe,
    ).withColumn("_qn", _norm(F.col("q_vec")))
    cb = cb.withColumn("_cn", _norm(F.col("c_vec")))
    sim = F.round(_hoisted_cosine(), 6)
    scored = (
        cb.join(F.broadcast(qb), "cent_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine"))
        .distinct()  # a neighbor can surface via several probed lists
    )
    if max_cosine is not None:
        # hard-negative cap, applied BEFORE ranking (same contract as
        # hard_negatives: the cut is on the filtered candidate set)
        scored = scored.filter(F.col("cosine") < max_cosine)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def kmeans_refine(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    decimals: int = 6,
) -> DataFrame:
    """One Lloyd iteration over ``df``: assign every vector to its nearest
    centroid (cosine), recompute each centroid as the member mean. Returns
    ``(cent_id, centroid array<double>, n_members)``.

    The centroid set is a bounded MODEL (k × dim floats), inlined as
    literals exactly like :func:`cosine_topk_ivf`'s assignment, so the
    assignment is a PURE PROJECTION (array of (−cos, cent_id) structs →
    array_sort → first) — the corpus is never shuffled for assignment.
    The recompute is one hash-aggregate whose shuffle carries k × dim
    partial means, not the vectors. Per iteration at 100 TB: one scan +
    one tiny shuffle — the standard scalable k-means loop. The assignment
    score is rounded to 6 decimals with near-ties going to the lowest
    cent_id — deterministic and engine-portable (a raw-double argmax could
    flip on summation-order ULPs between engines). Centroids that lose
    all members drop out (standard Lloyd degeneracy; callers re-seed if k
    must stay fixed)."""
    scored = _centroid_score_array(F.col(vec_col), centroids, decimals=6)
    assigned = df.select(
        F.element_at(F.array_sort(scored), 1)["cent_id"].alias("cent_id"),
        F.col(vec_col).alias("_v"),
    )
    comps = [
        F.round(F.avg(F.element_at(F.col("_v"), i + 1).cast("double")), decimals)
        for i in range(dim)
    ]
    return assigned.groupBy("cent_id").agg(
        F.array(*comps).alias("centroid"),
        F.count(F.lit(1)).alias("n_members"),
    )


def train_ivf_centroids(
    df: DataFrame,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> list[tuple[int, list[float]]]:
    """Train IVF centroids with ``iters`` Lloyd iterations, seeded from the
    deterministic lowest-id sample :func:`cosine_topk_ivf` uses. Returns
    the trained ``(cent_id, vector)`` model for
    ``cosine_topk_ivf``-style probing. Each iteration is one scan + one
    k × dim shuffle (see :func:`kmeans_refine`); the model round-trips
    through the driver between iterations — k × dim floats, never data."""
    cents = [
        (r[0], list(r[1]))
        for r in df.orderBy(id_col)
        .limit(k)
        .select(id_col, vec_col)
        .collect()  # bounded: the model seed, not data
    ]
    for _ in range(iters):
        cents = [
            (r.cent_id, [float(x) for x in r.centroid])
            for r in kmeans_refine(
                df, cents, id_col=id_col, vec_col=vec_col, dim=dim
            ).collect()  # bounded: k rows
        ]
        cents.sort()
    return cents


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    dim: int = 64,
    decimals: int = 6,
) -> DataFrame:
    """Per-label mean vector (element-wise) + member count — the centroid
    computation behind IVF training / class prototypes / drift monitoring.

    One hash-aggregate: each of the ``dim`` components is an independent
    ``avg`` with map-side partial aggregation, so the shuffle carries
    |labels| × dim doubles, not the vectors. No explode — ``element_at``
    keeps the row count at |input| during the partial phase.
    """
    comps = [
        F.round(
            F.avg(F.element_at(F.col(vec_col), i + 1).cast("double")), decimals
        )
        for i in range(dim)
    ]
    return df.groupBy(label_col).agg(
        F.array(*comps).alias("centroid"),
        F.count(F.lit(1)).alias("n_members"),
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "q_vec",
) -> DataFrame:
    """Per-vector int8 scalar quantization: map each component linearly
    from the vector's [min, max] onto [-127, 127], keeping the scale and
    offset for dequantization — 4× smaller embedding storage (float32 →
    int8) at a bounded reconstruction error of scale/2 per component.

    Pure Column expressions (array_min/max + transform), shuffle-free and
    codegen'd: at 100 TB this runs at scan bandwidth during the corpus
    write. Constant vectors (max == min) quantize to all-zero with
    scale 0 — dequantization returns the constant exactly.
    """
    v = F.col(vec_col)
    mn, mx = F.array_min(v), F.array_max(v)
    scale = (mx.cast("double") - mn.cast("double")) / F.lit(254.0)
    quant = F.when(
        mx > mn,
        F.transform(
            v,
            lambda x: F.round((x.cast("double") - mn.cast("double")) / scale)
            .cast("int")
            - F.lit(127),
        ),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return (
        df.withColumn(out_col, quant)
        .withColumn("q_scale", F.when(mx > mn, scale).otherwise(F.lit(0.0)))
        .withColumn("q_offset", mn.cast("double"))
    )


def dequantize_embeddings(
    df: DataFrame,
    q_col: str = "q_vec",
    out_col: str = "embedding_dq",
    scale_col: str = "q_scale",
    offset_col: str = "q_offset",
) -> DataFrame:
    """Inverse of :func:`quantize_embeddings`:
    ``v_i ≈ (q_i + 127) * scale + offset``."""
    return df.withColumn(
        out_col,
        F.transform(
            F.col(q_col),
            lambda q: (q.cast("double") + F.lit(127.0)) * F.col(scale_col)
            + F.col(offset_col),
        ),
    )


def auto_n_planes(n: int, target_bucket_size: int = 4096) -> int:
    """Plane count that holds the EXPECTED LSH bucket size at
    ``target_bucket_size`` as the corpus grows: the smallest ``p`` with
    n / 2^p <= target — so expected bucket size stays in
    (target/2, target] at every scale (floor 1, cap 24: 16M buckets is
    past any useful blocking granularity)."""
    if n <= 0 or target_bucket_size <= 0:
        return 1
    return max(1, min(24, math.ceil(math.log2(max(2.0, n / target_bucket_size)))))


def auto_n_centroids(
    n: int, target_list_size: int = 4096, cap: int = 256
) -> int:
    """IVF centroid count that holds the EXPECTED inverted-list size near
    ``target_list_size`` as the corpus grows, capped at ``cap``: centroid
    assignment inlines the model as Catalyst literals
    (:func:`_centroid_score_array`), so the model must stay kilobytes —
    256 × 64 doubles compiles fine, thousands would not. Past the cap,
    probed-candidate work grows as n_probe × n/cap (still a 64× cut vs
    brute force at cap=256, n_probe=4); a corpus that outgrows that wants
    the persisted index (:func:`build_ivf_index`), where assignment is
    paid once at build time and maintained incrementally
    (:func:`append_to_ivf_index`, the streaming funnel's index stage)."""
    if n <= 0:
        return 16
    return max(16, min(cap, n // target_list_size))


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int | None = None,
    dim: int = 64,
    target_bucket_size: int = 4096,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: drop all but one member of
    every group of embeddings whose pairwise cosine exceeds ``threshold``,
    keeping the minimum id as the representative. Returns the surviving
    rows of ``df`` unchanged.

    The three stages are each scale-safe: candidate pairs come from an LSH
    bucket equi-join (never an all-pairs comparison), transitive groups
    from the connected-components entry point (O(diameter) or O(log n)
    rounds, auto-selected), and the final keep/drop is one anti-join
    against the loser set.

    ``n_planes`` must GROW with the corpus: per-bucket pair counts are
    ~(n / 2^n_planes)² per bucket. By default it is DERIVED from one cheap
    ``count()`` via :func:`auto_n_planes` — n_planes =
    ceil(log2(n / target_bucket_size)) — so the expected bucket size stays
    ~constant (64k vectors / 4k buckets → 4 planes, 1B / 4k → 18 planes)
    without caller changes as data grows. Pass an explicit ``n_planes``
    only for pinned-reproducibility runs (e.g. oracle comparisons); a
    fixed plane count at growing n degrades toward quadratic work, the
    exact failure mode blocking exists to prevent.
    """
    from .dedup import cluster_pairs

    if n_planes is None:
        n_planes = auto_n_planes(df.count(), target_bucket_size)
    blocked = df.withColumn("_blk", lsh_bucket(F.col(vec_col), n_planes, dim))
    pairs = embedding_near_dup_pairs(
        blocked, id_col=id_col, vec_col=vec_col, block_col="_blk",
        threshold=threshold,
    )
    clusters = cluster_pairs(pairs)
    losers = _corpus_sized(
        clusters.filter(F.col("node") != F.col("cluster_id")).select("node")
    )
    return df.join(losers, df[id_col] == losers.node, "left_anti")


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    threshold: float = 0.95,
    pin_shuffle_join: bool = True,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above a threshold, blocked by
    ``block_col``. When no bounded natural key exists, derive the block
    with :func:`lsh_bucket` (``df.withColumn("blk", lsh_bucket(...))``) —
    its cardinality grows with 2^n_planes, so per-block pair counts stay
    sub-quadratic as data grows. ``block_col=None`` raises: a silent
    unblocked self-cross-join is exactly the O(n²) footgun this operator
    exists to avoid."""
    if block_col is None:
        raise ValueError(
            "embedding_near_dup_pairs requires a blocking column; derive one "
            "with lsh_bucket(...) when no natural key exists — an unblocked "
            "self-cross-join is O(n²) and will not survive at scale"
        )
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("v_a"),
        _norm(F.col(vec_col)).alias("_na"),
        F.col(block_col).alias("blk"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("v_b"),
        _norm(F.col(vec_col)).alias("_nb"),
        F.col(block_col).alias("blk"),
    )
    sim = F.round(
        _dot(F.col("v_a"), F.col("v_b")) / (F.col("_na") * F.col("_nb")), 6
    )
    return (
        a.join(_corpus_sized(b, pin_shuffle_join), "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def _l2sq(a: Column, lit_vec: list[float]) -> Column:
    """Σ (aᵢ − bᵢ)² against a literal vector, double precision,
    left-to-right accumulation (bit-matches DuckDB's list_sum over the
    same element order)."""
    b = F.array(*[F.lit(float(x)) for x in lit_vec])
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_codebooks_from_seeds(
    df: DataFrame,
    m: int = 4,
    k_codes: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Deterministic PQ codebooks: the ``k_codes`` lowest-id vectors,
    sliced into ``m`` equal subspaces — the same seeding convention as
    :func:`cosine_topk_ivf`'s default centroids (reproducible across
    engines; swap in per-subspace k-means from :func:`train_ivf_centroids`
    machinery for the trained path — every downstream contract holds for
    ANY codebook). Returns ``codebooks[s][j] = subvector`` of length
    dim/m."""
    if dim % m:
        raise ValueError("dim must divide evenly into m subspaces")
    sub = dim // m
    rows = (
        df.orderBy(id_col).limit(k_codes).select(vec_col).collect()
    )  # bounded: the model seed, not data
    return [
        [[float(x) for x in r[0][s * sub : (s + 1) * sub]] for r in rows]
        for s in range(m)
    ]


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 6,
) -> DataFrame:
    """Product-quantization encoding: split each vector into ``m``
    subspaces and store, per subspace, the index of the nearest codebook
    entry (L2) — the classic Jégou-style PQ compression that cuts vector
    storage from dim×4 bytes to m codes while keeping ANN-searchable
    structure (see :func:`pq_adc_topk`).

    The codebook is a bounded MODEL (m × k × dim/m floats) inlined as
    literals, so encoding is a PURE PROJECTION — shuffle-free, codegen'd,
    scan-bandwidth at 100 TB, same posture as :func:`cosine_topk_ivf`
    assignment. Distances round to ``decimals`` with ties to the lowest
    code index — deterministic and engine-portable. Output columns:
    ``(id_col, code_0 … code_{m-1})``, all scalar longs."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    cols = [F.col(id_col)]
    for s in range(m):
        subv = F.slice(F.col(vec_col), s * sub + 1, sub)
        scored = F.array(
            *[
                F.struct(
                    F.round(_l2sq(subv, code), decimals).alias("d"),
                    F.lit(j).alias("c"),
                )
                for j, code in enumerate(codebooks[s])
            ]
        )
        cols.append(
            F.element_at(F.array_sort(scored), 1)["c"].cast("long").alias(f"code_{s}")
        )
    return df.select(*cols)


def pq_reconstruct(
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    out_col: str = "recon",
) -> DataFrame:
    """Inverse of :func:`pq_encode`: concatenate each subspace's codebook
    entry — the decompression used by rerankers and drift checks. Pure
    projection (literal array-of-arrays lookup per subspace)."""
    m = len(codebooks)
    parts = []
    for s in range(m):
        table = F.array(
            *[F.array(*[F.lit(float(x)) for x in code]) for code in codebooks[s]]
        )
        parts.append(F.element_at(table, F.col(f"code_{s}").cast("int") + 1))
    return codes.withColumn(out_col, F.concat(*parts))


def pq_adc_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query stays full
    precision, each corpus vector is represented by its codebook entries,
    and the approximate L2² is the sum over subspaces of
    ‖q_sub − codebook[s][code_s]‖².

    Scale shape: per query row the m × k distance table is computed once
    as Column expressions (codebooks are literals); corpus codes join the
    broadcast query side and the per-subspace distance is a literal-array
    lookup by code — the corpus is scanned once, never shuffled, and the
    final cut is a per-query top-k window over k-bounded partials. With
    lossless codebooks (every distinct subvector present) ADC equals the
    exact distance — the invariant the tests pin."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    joined = corpus_codes.withColumnRenamed(id_col, "neighbor_id").join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    )
    dist = None
    for s in range(m):
        q_sub = F.slice(F.col("q_vec"), s * sub + 1, sub)
        dists = F.array(*[_l2sq(q_sub, code) for code in codebooks[s]])
        term = F.element_at(dists, F.col(f"code_{s}").cast("int") + 1)
        dist = term if dist is None else dist + term
    scored = joined.select(
        "query_id", "neighbor_id", F.round(dist, 6).alias("adc_dist")
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


def embedding_dim_profile(
    df: DataFrame,
    vec_col: str = "embedding",
    decimals: int = 6,
) -> DataFrame:
    """Per-dimension statistics of an embedding column — (dim, mean,
    stddev, min, max) in long format: the drift/health monitor for a
    vector corpus (a collapsed dimension or exploding variance is how
    embedding-pipeline bugs surface).

    posexplode fans each vector into (dim, component) rows, but the
    aggregate is map-side combinable, so the shuffle carries only
    dim × partials per task — at 100 TB this is one scan plus a
    64-row-per-task exchange, not a vector shuffle.
    """
    comps = df.select(
        F.posexplode(F.col(vec_col)).alias("dim", "_v")
    ).select((F.col("dim") + 1).alias("dim"), F.col("_v").cast("double").alias("_v"))
    return comps.groupBy("dim").agg(
        F.round(F.avg("_v"), decimals).alias("mean"),
        F.round(F.stddev("_v"), decimals).alias("stddev"),
        F.round(F.min("_v"), decimals).alias("mn"),
        F.round(F.max("_v"), decimals).alias("mx"),
    )


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    train_iters: int = 3,
    dim: int = 64,
    train_sample_size: int | None = None,
) -> None:
    """Persist an IVF-Flat index for build-once / query-many serving:
    trained centroids land in ``{path}/centroids`` and the corpus,
    assigned to its nearest list, lands in ``{path}/lists`` PARTITIONED
    BY ``cent_id`` — so Parquet partition pruning IS the inverted-list
    seek: a probe of ``n_probe`` lists reads only those directories,
    never the other (n_centroids − n_probe)/n_centroids of the corpus.

    This is the index-lifecycle shape a 100 TB vector corpus needs (the
    in-memory :func:`cosine_topk_ivf` re-assigns the corpus per query
    batch): one training scan, one assignment write, then every query
    batch is centroid-model arithmetic + a pruned read. Rebuild cadence
    = however often the corpus drifts (monitor with
    ``embedding_dim_profile`` / ``embedding_cluster_quality``).
    """
    # Invalidate the completeness marker FIRST (ADVICE r9 #1): the build
    # writes centroids then lists, so a crash between the two — or mid
    # lists-write — must never leave an index that ivf_index_is_complete
    # accepts. Deleting lists/_SUCCESS up front means the marker only
    # exists when the lists commit that FOLLOWED this build's centroid
    # write succeeded; a stale lists dir from a previous build can no
    # longer pair with fresh centroids behind a valid-looking marker.
    spark = corpus.sparkSession
    fs, marker = hadoop_fs(spark, f"{path}/lists/_SUCCESS")
    fs.delete(marker, False)

    train_df = corpus
    if train_sample_size is not None:
        # Lloyd training cost is iters x |train| x n_centroids cosines, so
        # at large n and large n_centroids train on a bounded deterministic
        # hash-sample (standard IVF practice: a few dozen points per
        # centroid suffice to place lists) — the full corpus still gets
        # ONE exact assignment pass below. The xxhash64 filter is a plain
        # scan predicate: no sort, no shuffle, engine-deterministic.
        n = corpus.count()
        if n > train_sample_size:
            m = max(1, n // train_sample_size)
            train_df = corpus.filter(F.xxhash64(F.col(id_col)) % m == 0)
    cents = train_ivf_centroids(
        train_df, k=n_centroids, iters=train_iters,
        id_col=id_col, vec_col=vec_col, dim=dim,
    )
    spark.createDataFrame(
        [(int(cid), [float(x) for x in vec]) for cid, vec in cents],
        "cent_id int, cent_vec array<double>",
    ).repartition(1).write.mode("overwrite").parquet(f"{path}/centroids")
    # (repartition, not coalesce: coalesce(1) over a parallelized local
    # relation makes one task drag every parent partition's Python-pickled
    # chunk through a single pipe — measured 4 s for EIGHT rows; the
    # 1-partition shuffle is milliseconds)
    assigned = _assign_to_centroids(
        corpus.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
        ),
        "vec",
        cents,
        n_best=1,
    )
    # _batch_id=-1 marks the base build; incremental appends land under
    # their own batch id so a foreachBatch replay can overwrite exactly
    # its own partitions (append_to_ivf_index(batch_id=...)). One extra
    # partition level costs nothing at query time — probes prune on
    # cent_id and read every batch under it.
    assigned.withColumn("_batch_id", F.lit(-1)).write.mode(
        "overwrite"
    ).partitionBy("cent_id", "_batch_id").parquet(f"{path}/lists")


def _assign_to_centroids(df, vec_col, cents, n_best):
    """Nearest-centroid assignment as a pure projection (no shuffle):
    the bounded model inlines as literals via the single-transform
    scorer (_centroid_score_array); (−cos, cent_id) struct sort picks
    the n_best lists."""
    scored = _centroid_score_array(F.col(vec_col), cents)
    best = F.slice(F.array_sort(scored), 1, n_best)
    return df.select(
        "*", F.explode(F.transform(best, lambda s: s.cent_id)).alias("cent_id")
    )


def exact_vector_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Collapse IDENTICAL embedding vectors to one representative row
    (minimum id per distinct vector) — the vector-space twin of
    ``operators.dedup.exact_dedup`` and the mandatory FIRST stage before
    any pairwise embedding operator on duplication-heavy data: exact
    replicas share every LSH bucket at any plane count, so their
    cosine-1.0 pairs grow with copies² and no blocking scheme can bound
    them (measured round 8: embedding near-dup 223 s -> 2.3 s at sf10
    after this collapse). One hash aggregate on the vector value + one
    semi join; returns the surviving rows of ``df`` unchanged."""
    keep = (
        df.groupBy(vec_col)
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(_corpus_sized(keep), id_col)


def ivf_index_is_complete(spark, path: str) -> bool:
    """True when a persisted IVF index at ``path`` is safe to reuse:
    both the centroid table and the lists COMMIT MARKER exist.

    ``build_ivf_index`` is not one atomic write (centroids land before
    lists), so "centroids/ exists" is NOT evidence of a whole index — a
    crash mid-build leaves exactly that state, and a caller that reuses
    on it silently serves incomplete results (ADVICE r9 #1). The build
    deletes ``lists/_SUCCESS`` before touching centroids and only the
    final lists commit recreates it, so marker present ⇒ the lists
    generation postdates the centroids next to it. Callers with a
    build-once/query-many cache (e.g. ``knn_hard_negatives``) must gate
    reuse on THIS, never on directory existence."""
    P = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    fs, cents = hadoop_fs(spark, f"{path}/centroids")
    return bool(
        fs.exists(cents) and fs.exists(P(f"{path}/lists/_SUCCESS"))
    )


def _detect_legacy_ivf_layout(fs, jvm, lists_dir: str) -> bool:
    """True when ``lists/`` holds the pre-round-9 single-level layout
    (``cent_id=*/part-*.parquet`` with no ``_batch_id=`` level). Mixing
    partition-directory depths under one root breaks Spark partition
    discovery on the next read, so an append must refuse rather than
    corrupt the store (ADVICE r9 #4). One directory listing of the
    first ``cent_id=`` child — layouts are uniform per generation."""
    lists_path = jvm.org.apache.hadoop.fs.Path(lists_dir)
    if not fs.exists(lists_path):
        return False
    for st in fs.listStatus(lists_path):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("cent_id=")):
            continue
        for child in fs.listStatus(st.getPath()):
            cname = child.getPath().getName()
            if child.isDirectory() and cname.startswith("_batch_id="):
                return False
            if cname.endswith(".parquet"):
                return True
        # empty cent_id dir (partition fully deleted): keep scanning
    return False


def append_to_ivf_index(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_id: int | None = None,
) -> None:
    """Incremental index maintenance: assign NEW vectors to the
    already-trained centroids and APPEND them to the partitioned lists —
    the missing third leg of the lifecycle next to :func:`build_ivf_index`
    (train + full write) and :func:`query_ivf_index` (pruned read). An
    ingest pipeline calls this per arriving batch instead of retraining;
    centroids stay frozen, so existing list partitions stay valid and the
    append only touches the partitions the new vectors land in.

    Retrain cadence: appends degrade list balance as the corpus drifts
    away from the frozen centroids — monitor with
    ``embedding_dim_profile``/cluster quality and rebuild when skewed.

    Idempotency: with ``batch_id=None`` it is the CALLER's contract
    (dedup ids upstream; a blind re-send appends duplicate rows, exactly
    like any other blind Parquet append). Pass the ``foreachBatch``
    ``batch_id`` instead and the append becomes REPLAY-SAFE: batch N's
    surviving ``(cent_id, _batch_id=N)`` partitions from any earlier
    (crashed) attempt are deleted first, then this attempt's rows land
    via dynamic overwrite — after the call the index holds exactly this
    attempt's rows for batch N, even if the replay produced a DIFFERENT
    survivor set than the crashed attempt did. The landing-sink
    exactly-once recipe, used by the streaming funnel's index stage
    (``streaming/funnel.py``)."""
    spark = new_vectors.sparkSession
    recover_ivf_compaction(spark, path)  # heal an interrupted compaction
    jvm = spark.sparkContext._jvm
    lists_dir = f"{path}/lists"
    fs, _ = hadoop_fs(spark, lists_dir)
    if _detect_legacy_ivf_layout(fs, jvm, lists_dir):
        raise ValueError(
            f"IVF index at {path!r} uses the legacy cent_id-only lists "
            "layout; appending (cent_id, _batch_id) partitions next to it "
            "would mix partition depths and break partition discovery. "
            "Migrate first: compact_ivf_index(spark, path) rewrites the "
            "lists into the batch-id layout (legacy rows fold into the "
            "_batch_id=-1 base generation), or rebuild with "
            "build_ivf_index."
        )
    cents = [
        (r.cent_id, list(r.cent_vec))
        for r in spark.read.parquet(f"{path}/centroids").collect()
    ]  # bounded model, not data
    assigned = _assign_to_centroids(
        new_vectors.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
        ),
        "vec",
        cents,
        n_best=1,
    )
    if batch_id is None:
        assigned.withColumn("_batch_id", F.lit(-1)).write.mode(
            "append"
        ).partitionBy("cent_id", "_batch_id").parquet(lists_dir)
    else:
        # Drop any partitions a CRASHED earlier attempt of this batch
        # left behind BEFORE the dynamic overwrite (ADVICE r9 #3): the
        # overwrite replaces only partitions present in THIS attempt's
        # data, so if a replay produced fewer cent_ids than the crashed
        # attempt (the guards in streaming/funnel.py make survivor sets
        # deterministic, but this function cannot assume its caller),
        # the orphaned (cent_id, _batch_id=N) directories would survive
        # in the index. One glob + per-directory delete makes the
        # replay contract unconditional: after the call, batch N's rows
        # are exactly this attempt's rows.
        bid = int(batch_id)
        glob = jvm.org.apache.hadoop.fs.Path(
            f"{lists_dir}/cent_id=*/_batch_id={bid}"
        )
        for st in fs.globStatus(glob) or []:
            fs.delete(st.getPath(), True)
        (
            assigned.withColumn("_batch_id", F.lit(bid))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("cent_id", "_batch_id")
            .parquet(lists_dir)
        )


def compact_ivf_index(
    spark, path: str, up_to_batch: int | None = None
) -> int:
    """Fold appended ``(cent_id, _batch_id >= 0)`` list partitions into the
    base ``_batch_id=-1`` generation and return the base-generation row
    count after the fold.

    Every ``append_to_ivf_index(batch_id=...)`` call adds one directory per
    touched (cent_id, batch); thousands of micro-batches mean thousands of
    directories per inverted list, and file-listing cost eventually eats
    the partition-pruning advantage the layout exists for — the same
    pressure ``storage.prune_batches`` and ``relational.compact_table``
    relieve for their stores. One full read, one rewrite partitioned by
    ``cent_id``, then a two-rename directory swap.

    ``up_to_batch`` bounds the fold: only partitions with
    ``_batch_id <= up_to_batch`` collapse into the base generation; later
    batches keep their own partitions (rewritten in place by the swap,
    rows untouched). This is the REPLAY-SAFE maintenance form — fold only
    batches the streaming checkpoint has committed (a committed batch
    never replays; an uncommitted one may, and folding it would let the
    replay recreate its partition NEXT TO the folded copy and double its
    rows — exactly the blind double-append the batch-id layout exists to
    prevent). ``streaming.funnel.compact_funnel_index`` derives the bound
    from the checkpoint's commit log. When nothing in ``(0, up_to_batch]``
    exists the call is a no-op (no swap window at all).

    Contracts (same class as compact_table): quiesce writers AND queries
    for the duration (the swap window is not atomic for readers — the
    checkpoint gate protects against replay double-count, not against a
    concurrent in-flight append). Crash-safe via
    :func:`recover_ivf_compaction` (the compact_table recipe): the
    folded output's ``_SUCCESS`` marker gates roll-forward vs roll-back,
    and this entry point runs recovery first, so a crash at any point
    heals on the next call."""
    recover_ivf_compaction(spark, path)
    lists_dir = f"{path}/lists"
    jvm = spark.sparkContext._jvm
    fs, lists_path = hadoop_fs(spark, lists_dir)
    if not fs.exists(lists_path):
        return 0
    df = spark.read.parquet(lists_dir)
    if up_to_batch is None:
        folded = df.drop("_batch_id").withColumn("_batch_id", F.lit(-1))
    else:
        # directory-listing-sized model: the distinct batch ids ARE the
        # partition directories, never the vectors
        present = {
            r._batch_id
            for r in df.select("_batch_id").distinct().collect()
        }
        if not any(0 <= b <= up_to_batch for b in present):
            return df.filter(F.col("_batch_id") == -1).count()
        folded = df.withColumn(
            "_batch_id",
            F.when(
                F.col("_batch_id") <= F.lit(int(up_to_batch)), F.lit(-1)
            ).otherwise(F.col("_batch_id")),
        )
    tmp_dir = lists_dir + "__compacting"
    folded.write.mode("overwrite").partitionBy(
        "cent_id", "_batch_id"
    ).parquet(tmp_dir)
    n = (
        spark.read.parquet(tmp_dir)
        .filter(F.col("_batch_id") == -1)
        .count()
    )
    backup = jvm.org.apache.hadoop.fs.Path(lists_dir + "__old")
    fs.delete(backup, True)
    fs.rename(lists_path, backup)
    fs.rename(jvm.org.apache.hadoop.fs.Path(tmp_dir), lists_path)
    fs.delete(backup, True)
    return n


def recover_ivf_compaction(spark, path: str) -> str:
    """Finish or roll back an IVF list compaction interrupted between
    renames — same ``_SUCCESS``-gated state machine as
    ``relational.recover_compaction``: lists intact → clear debris
    ("clean"); lists missing + completed ``__compacting`` output → roll
    forward ("completed"); lists missing + backup → roll back
    ("rolled_back"). Run automatically by :func:`compact_ivf_index` and
    :func:`append_to_ivf_index`, so the first writer after a crash heals
    the index."""
    lists_dir = f"{path}/lists"
    P = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    fs, lists_path = hadoop_fs(spark, lists_dir)
    tmp = P(lists_dir + "__compacting")
    backup = P(lists_dir + "__old")
    if fs.exists(lists_path):
        if fs.exists(tmp):
            fs.delete(tmp, True)
        if fs.exists(backup):
            fs.delete(backup, True)
        return "clean"
    if fs.exists(tmp) and fs.exists(P(tmp.toString() + "/_SUCCESS")):
        fs.rename(tmp, lists_path)
        if fs.exists(backup):
            fs.delete(backup, True)
        return "completed"
    if fs.exists(backup):
        fs.rename(backup, lists_path)
        if fs.exists(tmp):
            fs.delete(tmp, True)
        return "rolled_back"
    return "clean"  # nothing at this path yet (fresh index dir)


def query_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
    max_cosine: float | None = None,
) -> DataFrame:
    """Query a persisted IVF index: assign each query to its ``n_probe``
    nearest lists (model arithmetic on the kilobyte centroid table),
    then score ONLY those lists — the ``cent_id IN (...)`` filter prunes
    list partitions at the Parquet scan, so I/O is proportional to the
    probed fraction of the corpus. Returns the same
    (query_id, neighbor_id, cosine, rank) contract as the in-memory
    operators; with ``n_probe >= n_centroids`` the result equals exact
    brute force (same invariant as :func:`cosine_topk_ivf`)."""
    cents = [
        (r.cent_id, list(r.cent_vec))
        for r in spark.read.parquet(f"{path}/centroids").collect()
    ]  # bounded model, not data
    qb = _assign_to_centroids(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        ),
        "q_vec",
        cents,
        n_best=n_probe,
    )
    lists = spark.read.parquet(f"{path}/lists").withColumn(
        "_cn", _norm(F.col("vec"))
    )
    qb = qb.withColumn("_qn", _norm(F.col("q_vec")))
    sim = F.round(
        _dot(F.col("q_vec"), F.col("vec")) / (F.col("_qn") * F.col("_cn")),
        6,
    )
    scored = (
        lists.join(F.broadcast(qb), "cent_id")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            sim.alias("cosine"),
        )
        .distinct()
    )
    if max_cosine is not None:
        # hard-negative mining straight off the serving index (see
        # hard_negatives for the cap's training rationale)
        scored = scored.filter(F.col("cosine") < max_cosine)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def random_projection(
    df: DataFrame,
    vec_col: str = "embedding",
    out_dim: int = 8,
    dim: int = 64,
    decimals: int = 6,
    prefix: str = "proj_",
) -> DataFrame:
    """Johnson–Lindenstrauss random projection: reduce ``dim``-d vectors
    to ``out_dim`` coordinates against the same deterministic md5-seeded
    unit hyperplanes the LSH bucketer uses (:func:`_hyperplanes` — so a
    projection is exactly the pre-sign-bit value of the corresponding
    LSH plane, reproducible across runs and engines).

    The 100 TB dimensionality-reduction front of the ANN stack: distances
    are approximately preserved (JL lemma), so downstream kNN/clustering
    runs on out_dim doubles instead of dim — an 8× narrower shuffle at
    out_dim=8/dim=64. Pure projection over inlined plane literals: no
    shuffle, no UDF, whole-stage codegen; emits one scalar column per
    output coordinate (driver-sortable, no arrays).
    """
    vec = F.col(vec_col)
    cols = [
        F.round(_plane_projection(vec, plane), decimals).alias(f"{prefix}{p}")
        for p, plane in enumerate(_hyperplanes(out_dim, dim))
    ]
    return df.select("*", *cols)


def pca_top_component(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    iters: int = 3,
    decimals: int = 8,
) -> DataFrame:
    """Top principal component of the embedding corpus by power iteration
    — the distributed-PCA primitive (whitening, drift monitoring,
    'is one direction eating my embedding space' diagnostics) computed
    WITHOUT ever materializing the d×d covariance: each round is
    ``s_i = (x_i − μ)·v`` (row-local) followed by ``w = avg_i (x_i − μ)·s_i``
    (one map-combinable aggregate of d sums), then an L2 normalize.

    Scale posture: the data is scanned once per iteration (iters is a
    small constant); only the d-float mean and the d-float iterate ever
    cross the driver (bounded MODEL state, the k-means/logreg precedent —
    the corpus is never collected). Per-round rounding of the iterate
    kills cross-engine ULP drift so the whole trajectory is
    oracle-replayable; v0 = 1/sqrt(d) uniform (exact at d=64).

    Returns ``(dim, loading, lambda_hat)`` — 1-based component index,
    the unit loading, and the Rayleigh-quotient eigenvalue estimate
    ``‖cov·v‖`` from the final round (computed distributed, not on the
    driver)."""
    X = df.select(
        F.transform(F.col(vec_col), lambda c: c.cast("double")).alias("x")
    )
    mu_row = X.agg(
        *[F.avg(F.col("x")[j]).alias(f"m{j}") for j in range(dim)]
    ).collect()[0]
    mu = [float(mu_row[f"m{j}"]) for j in range(dim)]
    v = [round(1.0 / dim ** 0.5, decimals)] * dim

    mu_arr = F.array(*[F.lit(m) for m in mu])

    def s_expr():
        # array-fold form, not a 64-term Python sum: zip_with keeps the
        # expression tree 3 nodes deep instead of O(dim), cutting Catalyst
        # compile time per iteration; the fold runs left-to-right in index
        # order, bit-identical to the summed-terms form it replaces
        centered = F.zip_with(F.col("x"), mu_arr, lambda a, b: a - b)
        weighted = F.zip_with(
            centered, F.array(*[F.lit(c) for c in v]), lambda a, b: a * b
        )
        return F.aggregate(weighted, F.lit(0.0), lambda acc, y: acc + y)

    for _ in range(iters - 1):
        scored = X.withColumn("s", s_expr())
        w_row = scored.agg(
            *[
                F.avg((F.col("x")[j] - F.lit(mu[j])) * F.col("s")).alias(
                    f"w{j}"
                )
                for j in range(dim)
            ]
        ).collect()[0]  # bounded: the d-float iterate, not data
        w = [float(w_row[f"w{j}"]) for j in range(dim)]
        nrm = sum(x * x for x in w) ** 0.5
        v = [round(x / nrm, decimals) for x in w]

    # final round stays distributed end-to-end: per-dim frame + one-row norm
    scored = X.withColumn("s", s_expr())
    w1 = scored.agg(
        F.array(
            *[
                F.avg((F.col("x")[j] - F.lit(mu[j])) * F.col("s"))
                for j in range(dim)
            ]
        ).alias("w")
    )
    per_dim = w1.select(
        F.posexplode("w").alias("dim0", "w")
    ).select((F.col("dim0") + 1).cast("int").alias("dim"), "w")
    nrm = per_dim.agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    return per_dim.join(F.broadcast(nrm)).select(
        "dim",
        F.round(F.col("w") / F.col("nrm"), decimals).alias("loading"),
        F.round(F.col("nrm"), 6).alias("lambda_hat"),
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    max_cosine: float = 0.9,
) -> DataFrame:
    """Hard-negative mining for retrieval/embedding training: per query,
    the top-``k`` most similar corpus vectors whose cosine stays BELOW
    ``max_cosine`` — similar enough to be hard (the model must work to
    rank them below the positive) but capped so near-duplicates of the
    query never poison the negative set (a duplicate labeled 'negative'
    actively teaches the wrong thing; the standard contrastive-training
    pitfall). Same broadcast-queries → scan → partial-top-k plan as
    :func:`cosine_topk` with the cap applied BEFORE ranking, so the cut
    is on the filtered candidate set."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("_qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        _norm(F.col(vec_col)).alias("_cn"),
    )
    sim = F.round(_hoisted_cosine(), 6)
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine"))
        .filter(F.col("cosine") < max_cosine)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
