"""Similarity search over an embedding column (array<float>).

- ``cosine_topk`` — brute-force cosine top-k against a query vector.
  The correctness baseline: one scan, one narrow top-k (TakeOrdered),
  no shuffle of the embedding column. Pure-JVM dot/norm expression at
  toy dims, one vectorized Arrow hop at production dims (the dot/norm
  higher-order functions are interpreted per row, not codegen'd — see
  the ``_COSINE_EXPR_MAX_DIM`` note).
- ``hyperplane_lsh_buckets`` / ``ann_topk`` — the scale path: random-
  hyperplane LSH (sign bits of H dot products → bucket key). At 100 TB
  you pre-bucket once (one shuffle, or bucketed table layout), then a
  query probes its own bucket + hamming-1 neighbors instead of scanning
  everything. Planes are seeded numpy → deterministic.
- ``pairwise_ann_candidates`` — all-pairs near-neighbor candidates via
  shared bucket, for embedding-cosine near-dup detection.
"""

from __future__ import annotations

import logging
import math
from typing import Optional, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F

logger = logging.getLogger(__name__)


def derive_n_planes(n_rows: int, target_bucket: int = 32,
                    lo: int = 4, hi: int = 24) -> int:
    """Plane count from corpus size: 2^p buckets sized ~target_bucket
    (p = ceil(log2(n / target_bucket)), clamped to [lo, hi]). Round 1
    hardcoded 6 planes = 64 buckets, which stops pruning anything
    beyond ~2k vectors; at 100 TB the bucket count must grow with the
    corpus or within-bucket work is quadratic in n."""
    if n_rows <= target_bucket:
        planes = lo
    else:
        planes = math.ceil(math.log2(n_rows / target_bucket))
    return min(max(planes, lo), hi)


def _lit_vec(vec: Sequence[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in vec])


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


#: dot/norm over array columns are HIGHER-ORDER functions — Spark
#: interprets them per row (no whole-stage codegen), so their cost is
#: ~dim interpreted closure calls per row. Above this dim the Arrow
#: matmul variants win (measured dim 64 / 1M rows: 9.3s expr vs 3.5s
#: UDF for cosine_topk); at or below it the expression avoids the
#: Arrow hop's fixed cost and the plan stays pure-JVM. Rounding to 4
#: decimals makes the two paths value-identical (accumulation-order
#: drift is ~1e-15 relative).
_COSINE_EXPR_MAX_DIM = 16


def _query_cos_udf(query_vec: np.ndarray):
    """cos(query, v) as one (batch x dim) @ dim matmul per Arrow
    batch — the scale path for production dims."""
    q = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.sqrt(q @ q))
    dim = len(q)

    @F.pandas_udf("double")
    def qcos(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype="float64")
        vals = vecs.to_numpy()
        valid = np.array(
            [v is not None and len(v) == dim for v in vals], dtype=bool
        )
        out = np.full(len(vals), np.nan)
        if valid.any():
            X = np.vstack(vals[valid]).astype(np.float64, copy=False)
            out[valid] = (X @ q) / (np.sqrt((X * X).sum(axis=1)) * qn)
        # invalid rows must surface as NULL, not NaN — Spark orders NaN
        # ABOVE every double, so a NaN would win the top-k; the expr
        # path yields NULL for these rows (desc puts nulls last)
        ser = pd.Series(out, dtype="Float64")
        ser[~valid] = pd.NA
        return ser

    return qcos


def cosine_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: Optional[int] = None,
) -> DataFrame:
    """Brute-force cosine top-k. The plan is scan → project → TakeOrdered
    (no full sort, no shuffle of embeddings). The projection is the
    pure-JVM dot/norm expression at toy dims and ONE vectorized Arrow
    hop above ``_COSINE_EXPR_MAX_DIM`` (the dim is known from the
    query, so the switch needs no corpus probe); both round to 4
    decimals, so the paths are value-identical (test-pinned)."""
    import math

    from inxs_spark.operators.fanout import ensure_compute_fanout

    # round 6: a small single-row-group embeddings file plans ONE scan
    # task — fan out before the per-row vector math (no-op at scale)
    df = ensure_compute_fanout(df)
    qv = [float(x) for x in query_vec]
    if len(qv) > _COSINE_EXPR_MAX_DIM:
        raw = _query_cos_udf(np.asarray(qv))(F.col(vec_col))
    else:
        q = _lit_vec(qv)
        # query norm folded driver-side — visible in .explain as a
        # literal instead of a per-row aggregate over the literal array
        qnorm = math.sqrt(sum(x * x for x in qv))
        v = F.col(vec_col).cast("array<double>")
        raw = dot(v, q) / (norm(v) * F.lit(qnorm))
    out = df.select(F.col(id_col), F.round(raw, 4).alias("cos"))
    if exclude_id is not None:
        out = out.filter(F.col(id_col) != exclude_id)
    return out.orderBy(F.desc("cos"), F.col(id_col)).limit(k)


def hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def bucket_key(vec_col: str, planes: np.ndarray) -> Column:
    """Sign-bit bucket id: bit h set iff dot(vec, plane_h) > 0.

    Literal-tree variant: emits n_planes x dim scalar literals into
    one Catalyst expression — fine at test dims, but at production
    dim (768 x 24 planes ≈ 18k literal nodes) planning+codegen cost
    dominates (measured: tools/stress_dim768.py, PLANS.md).
    :func:`hyperplane_lsh_buckets` auto-selects the vectorized
    matmul UDF (:func:`bucket_key_udf`) above ``_LITERAL_BUDGET``
    total literals."""
    key = F.lit(0).cast("long")
    v = F.col(vec_col).cast("array<double>")
    for h, plane in enumerate(planes):
        bit = F.when(dot(v, _lit_vec(plane)) > 0, F.lit(1)).otherwise(F.lit(0))
        key = key + (bit.cast("long") * F.lit(int(2 ** h)))
    # null / wrong-dim rows get a NULL bucket (dirty data must not
    # silently land in bucket 0 — and the matmul UDF variant can't
    # compute them at all, so both paths agree on the contract)
    return F.when(
        v.isNotNull() & (F.size(v) == planes.shape[1]), key
    ).otherwise(F.lit(None).cast("long"))


# above this many embedded scalar literals (planes: n_planes x dim;
# centroids: n_cells x dim) the expression-tree variants lose to the
# Arrow hop. Round 5 re-measurement moved this from 4096 to 256: the
# dot/aggregate kernels are HIGHER-ORDER functions, which Spark
# evaluates as interpreted closures per row (never whole-stage
# codegen), so the expr cost is per-ROW, not just per-plan — at 256k
# rows a 1024-literal cell assignment ran 47s vs 1.1s for the matmul
# UDF (40x; tools/pq_scale_bench.py exposed it via a 109s IVF-PQ
# build). Small trees (toy dims, few cells) stay pure-JVM where the
# Arrow hop's fixed cost would dominate; result equality across the
# switch is pinned by test_bucket_key_udf_matches_literal_tree.
_LITERAL_BUDGET = 256


def bucket_key_udf(vec_col: str, planes: np.ndarray) -> Column:
    """Sign-bit bucket id as ONE vectorized matrix multiply per Arrow
    batch (the MinHash precedent: numpy beats a giant expression
    tree). Same planes, same >0 test on float64 as
    :func:`bucket_key`; summation order differs, so a vector whose
    dot product is within float rounding of zero may land one bucket
    over — irrelevant to LSH semantics (bucket boundaries are
    arbitrary), and the driver-side query bucket in :func:`ann_topk`
    uses the same numpy order."""
    from pyspark.sql.types import LongType

    P = np.ascontiguousarray(planes, dtype=np.float64)
    weights = (1 << np.arange(P.shape[0], dtype=np.uint64))

    dim = P.shape[1]

    @F.pandas_udf(LongType())
    def key(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype="int64")
        vals = vecs.to_numpy()
        # null / wrong-dim rows → NULL bucket (matches the literal
        # path's guard); np.vstack would crash the whole Arrow batch
        valid = np.array(
            [v is not None and len(v) == dim for v in vals], dtype=bool
        )
        out = np.full(len(vals), np.nan)
        if valid.any():
            # Arrow hands list<float> cells over as per-row ndarrays;
            # vstack is the no-python-loop batch assembly (tolist()
            # was 6x slower at dim 768 — see tools/stress_dim768.py)
            X = np.vstack(vals[valid]).astype(np.float64, copy=False)
            bits = (X @ P.T) > 0
            out[valid] = (bits.astype(np.uint64) * weights).sum(axis=1).astype(
                np.int64
            )
        return pd.Series(out).astype("Int64")

    return key(F.col(vec_col))


def hyperplane_lsh_buckets(
    df: DataFrame,
    dim: int,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    from inxs_spark.operators.fanout import ensure_compute_fanout

    df = ensure_compute_fanout(df)  # round 6: see cosine_topk
    planes = hyperplanes(dim, n_planes, seed)
    key = (
        bucket_key_udf(vec_col, planes)
        if planes.size > _LITERAL_BUDGET
        else bucket_key(vec_col, planes)
    )
    return df.select(F.col(id_col), F.col(vec_col), key.alias("bucket"))


def ann_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate top-k: probe the query's bucket (+ hamming-1
    neighbors) and rank by exact cosine inside the candidate set. At
    scale the bucketed table is precomputed; candidates are a ~2^-p
    fraction of the corpus."""
    qv = np.asarray(list(query_vec), dtype=float)
    planes = hyperplanes(len(qv), n_planes, seed)
    qbucket = 0
    for h, plane in enumerate(planes):
        if float(np.dot(qv, plane)) > 0:
            qbucket |= 1 << h
    probes = [qbucket]
    if multiprobe:
        # hamming-1 and hamming-2 probes: hyperplane LSH's collision
        # probability per plane is 1 - angle/pi, so for far neighbors
        # (angle ≳ 60°) single-bucket recall collapses — deeper
        # multiprobe trades back recall for candidates. Recall is a
        # function of the data's cluster structure: near-dup search
        # (cos > 0.9) works at depth 1; uniform-ish corpora need
        # depth 2 and few planes (see tests + PLANS.md).
        probes += [qbucket ^ (1 << h) for h in range(n_planes)]
        probes += [
            qbucket ^ (1 << h1) ^ (1 << h2)
            for h1 in range(n_planes)
            for h2 in range(h1 + 1, n_planes)
        ]
    bucketed = hyperplane_lsh_buckets(df, len(qv), n_planes, id_col, vec_col, seed)
    cands = bucketed.filter(F.col("bucket").isin(probes))
    return cosine_topk(cands, qv, k, id_col, vec_col)


def pairwise_ann_candidates(
    df: DataFrame,
    dim: int,
    n_planes: Optional[int] = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cos: float = 0.9,
    seed: int = 42,
    n_rows: Optional[int] = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: same LSH bucket → exact cosine
    ≥ min_cos. One shuffle on the bucket key; quadratic only within
    buckets (expected size corpus/2^p). ``n_planes=None`` (default)
    derives the plane count from the corpus size — pass ``n_rows`` (an
    external corpus-size hint, e.g. from table metadata) to skip the
    probe entirely; otherwise a saturating probe runs, exact below its
    536.9M-row saturation point (32·2^24 — round-3 advice fix: the
    docstring previously claimed 16.7M). The probe is a distributed
    JVM count clamped on the driver — a full (zero-column, codegen,
    metadata-fast on plain parquet scans) pass, so a ``n_rows``
    metadata hint is always the cheaper path at scale. A saturated
    probe logs and uses the probe bound (planes err LOW:
    too-few planes costs bucket size, never recall — too MANY planes
    is the recall killer for single-table hyperplane LSH)."""
    if n_planes is None:
        if n_rows is None:
            from .dedup import clamped_count

            # derive_n_planes' hi clamp saturates at target_bucket·2^hi
            # = 32·2^24 rows, so a probe bounded there yields the
            # IDENTICAL parameter as a full count for EVERY corpus
            # size (same alignment as the minhash max_bucket probe —
            # a smaller bound would silently under-plane corpora in
            # the 16.7M–536M range by up to 32x bucket size)
            saturation = 32 * (1 << 24)
            n_rows = clamped_count(df, saturation)
        n_planes = derive_n_planes(n_rows)
        logger.info(
            "pairwise_ann_candidates: n=%d -> n_planes=%d "
            "(ceil(log2(n/32)) clamped to [4,24]; 2^p=%d buckets)",
            n_rows, n_planes, 2 ** n_planes,
        )
    bucketed = hyperplane_lsh_buckets(df, dim, n_planes, id_col, vec_col, seed)
    return _within_group_cosine_pairs(
        bucketed, "bucket", id_col, vec_col, min_cos, dim=dim
    ).distinct()


def _pair_cos_udf():
    """cos(v_a, v_b) rowwise as vectorized numpy per Arrow batch —
    the scale path for the within-group pair joins (the dot/norm
    expressions are interpreted higher-order functions; see the
    ``_COSINE_EXPR_MAX_DIM`` note)."""

    @F.pandas_udf("double")
    def pcos(va: pd.Series, vb: pd.Series) -> pd.Series:
        if not len(va):
            return pd.Series([], dtype="Float64")
        A = np.vstack(va.to_numpy()).astype(np.float64, copy=False)
        B = np.vstack(vb.to_numpy()).astype(np.float64, copy=False)
        num = (A * B).sum(axis=1)
        den = np.sqrt((A * A).sum(axis=1) * (B * B).sum(axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            out = num / den
        return pd.Series(out, dtype="Float64")

    return pcos


def _within_group_cosine_pairs(
    grouped: DataFrame,
    key_col: str,
    id_col: str,
    vec_col: str,
    min_cos: float,
    dim: Optional[int] = None,
) -> DataFrame:
    """Shared within-group pair machinery for every bucketed/celled
    cosine near-dup path: self-join on the group key, id_a < id_b,
    threshold on the RAW cosine (rounding before the filter would
    flip pairs at e.g. the 0.44995 boundary — round-4 review
    finding; the rounded value is emitted for display/oracle only).
    Above ``_COSINE_EXPR_MAX_DIM`` (when the caller knows ``dim``)
    the per-pair cosine runs as ONE vectorized Arrow hop instead of
    the interpreted dot/norm expression — at scale the pair count is
    the hot loop of semantic dedup."""
    a = grouped.select(
        F.col(key_col), F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("v_a"),
    )
    b = grouped.select(
        F.col(key_col), F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("v_b"),
    )
    if dim is not None and dim > _COSINE_EXPR_MAX_DIM:
        raw = _pair_cos_udf()(
            F.col("v_a").cast("array<double>"),
            F.col("v_b").cast("array<double>"),
        )
    else:
        raw = cosine(F.col("v_a").cast("array<double>"),
                     F.col("v_b").cast("array<double>"))
    return (
        a.join(b, key_col)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(raw >= min_cos)
        .select("id_a", "id_b", F.round(raw, 4).alias("cos"))
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the FAISS-IVF-flat shape on DataFrames
# ---------------------------------------------------------------------------

def ivf_train_centroids(
    df: DataFrame,
    dim: int,
    n_cells: int = 16,
    vec_col: str = "embedding",
    max_sample: int = 4096,
    iters: int = 12,
    seed: int = 42,
) -> np.ndarray:
    """Coarse quantizer: Lloyd k-means on a bounded driver-side sample
    (deterministic seed). At 100 TB the sample is still `max_sample`
    rows — training cost is O(sample), never O(corpus); only the
    assignment pass below touches every row.

    Sampling is a deterministic hash-ordered global top-k
    (TakeOrdered on xxhash64 of the vector): position-independent, so
    the codebook never trains on a corpus PREFIX — a fraction-based
    sample + limit() takes whatever the first partitions yield, which
    on a time-ordered corpus is the oldest 1-2% of the data (round-3
    review finding). One scan, map-side heaps of max_sample rows."""
    rows = (
        df.select(vec_col)
        .orderBy(F.xxhash64(F.col(vec_col).cast("array<double>"), F.lit(seed)))
        .limit(max_sample)
        .collect()
    )
    X = np.asarray([list(r[0]) for r in rows], dtype=np.float64)
    rng = np.random.default_rng(seed)
    cents = X[rng.choice(len(X), size=min(n_cells, len(X)), replace=False)]
    for _ in range(iters):
        d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(len(cents)):
            members = X[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


def _cell_expr(vec_col: str, centroids: np.ndarray) -> Column:
    """argmin_c ||v - c||^2 == argmax_c (dot(v, c) - ||c||^2 / 2),
    computed JVM-side (codegen'd expression, no Python hop)."""
    v = F.col(vec_col).cast("array<double>")
    scores = F.array(*[
        dot(v, _lit_vec(c)) - F.lit(float(np.dot(c, c)) / 2.0)
        for c in centroids
    ])
    cell = (F.array_position(scores, F.array_max(scores)) - 1).cast("int")
    # null / wrong-dim rows → NULL cell (same contract as _cell_udf)
    return F.when(
        v.isNotNull() & (F.size(v) == centroids.shape[1]), cell
    ).otherwise(F.lit(None).cast("int"))


def _cell_udf(centroids: np.ndarray):
    """Vectorized cell assignment: one (batch x dim) @ (dim x cells)
    matmul per Arrow batch — the scale path for production dims where
    :func:`_cell_expr`'s n_cells x dim literal tree is codegen-hostile
    (measured in tools/stress_dim768.py)."""
    from pyspark.sql.types import IntegerType

    C = np.ascontiguousarray(centroids, dtype=np.float64)
    half_norms = 0.5 * (C * C).sum(axis=1)

    dim = C.shape[1]

    @F.pandas_udf(IntegerType())
    def cell(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype="int32")
        vals = vecs.to_numpy()
        valid = np.array(
            [v is not None and len(v) == dim for v in vals], dtype=bool
        )
        out = np.full(len(vals), np.nan)
        if valid.any():
            X = np.vstack(vals[valid]).astype(np.float64, copy=False)
            scores = X @ C.T - half_norms[None, :]
            out[valid] = scores.argmax(axis=1).astype(np.int32)
        return pd.Series(out).astype("Int32")

    return cell


def ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid cell. At scale,
    write this out partitioned by `cell` (or bucketed) so queries
    prune to nprobe cells at the SCAN — the IVF inverted lists ARE the
    partition layout; no shuffle at query time. Auto-selects the
    vectorized matmul UDF above ``_LITERAL_BUDGET`` total centroid
    literals (production dims), the codegen expression below it."""
    from inxs_spark.operators.fanout import ensure_compute_fanout

    df = ensure_compute_fanout(df)  # round 6: see cosine_topk
    if centroids.size > _LITERAL_BUDGET:
        cell = _cell_udf(centroids)(F.col(vec_col))
    else:
        cell = _cell_expr(vec_col, centroids)
    return df.select(F.col(id_col), F.col(vec_col), cell.alias("cell"))


def ivf_write_index(
    df: DataFrame,
    centroids: np.ndarray,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF layout: cell assignments written
    PARTITIONED BY cell — the inverted lists ARE the directory
    structure, so a query's nprobe filter prunes at the scan (no
    assignment recompute, no shuffle, IO = nprobe/n_cells of the
    corpus). This is the 100 TB serving shape; :func:`ivf_topk`
    recomputes assignments inline and is the ad-hoc shape."""
    ivf_assign(df, centroids, id_col, vec_col).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(path)


def ivf_topk_indexed(
    spark,
    index_path: str,
    centroids: np.ndarray,
    query_vec: Sequence[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k against a materialized IVF index: rank cells
    driver-side (numpy over the centroid matrix), scan ONLY the nprobe
    matching partition directories (PartitionFilters — test-asserted),
    exact cosine inside."""
    qv = np.asarray(list(query_vec), dtype=np.float64)
    d2 = ((centroids - qv[None, :]) ** 2).sum(axis=1)
    probes = [int(c) for c in d2.argsort()[:nprobe]]
    cands = spark.read.parquet(index_path).filter(F.col("cell").isin(probes))
    return cosine_topk(cands, qv, k, id_col, vec_col)


def ivf_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centroids: Optional[np.ndarray] = None,
) -> DataFrame:
    """IVF approximate top-k: rank the query's `nprobe` nearest cells
    driver-side, scan only those inverted lists, exact cosine inside.
    Recall follows the corpus's cluster structure — clustered corpora
    reach high recall at nprobe ≪ n_cells; near-uniform corpora need
    nprobe ≈ n_cells/2 (tested)."""
    qv = np.asarray(list(query_vec), dtype=np.float64)
    if centroids is None:
        centroids = ivf_train_centroids(
            df, len(qv), n_cells, vec_col=vec_col, seed=seed
        )
    d2 = ((centroids - qv[None, :]) ** 2).sum(axis=1)
    probes = [int(c) for c in d2.argsort()[:nprobe]]
    assigned = ivf_assign(df, centroids, id_col, vec_col)
    cands = assigned.filter(F.col("cell").isin(probes))
    return cosine_topk(cands, qv, k, id_col, vec_col)


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup — cluster-then-prune (Abbas et al.
# 2023, "SemDeDup: Data-efficient learning at web-scale through
# semantic deduplication" — public paper)
# ---------------------------------------------------------------------------

def semantic_dedup_pairs(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cos: float = 0.95,
    n_cells: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Semantic near-dup pairs the SemDeDup way: k-means the
    embeddings into ``n_cells`` coarse clusters (bounded driver-side
    sample — O(sample) training, never O(corpus)), then compare
    pairs WITHIN each cluster only (exact cosine ≥ ``min_cos``).
    Quadratic cost is bounded per cell (expected corpus/n_cells²
    pairs per cell vs corpus²/2 all-pairs); pairs straddling a cell
    boundary are missed by design — the paper's documented trade,
    acceptable because semantic duplicates sit deep inside clusters
    at the 0.95+ cosine band this targets. One shuffle on the cell
    key; cell assignment is JVM codegen below the literal budget and
    the vectorized matmul UDF above it (same plumbing as IVF)."""
    cents = ivf_train_centroids(
        df, dim, n_cells=n_cells, vec_col=vec_col, seed=seed
    )
    assigned = ivf_assign(df, cents, id_col, vec_col)
    return _within_group_cosine_pairs(
        assigned, "cell", id_col, vec_col, min_cos, dim=dim
    )


def semantic_dedup(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cos: float = 0.95,
    n_cells: int = 64,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup end-to-end: within-cluster cosine pairs → connected
    components → keep the min-id representative of every semantic
    cluster (singletons always survive). Component semantics matter
    here exactly as in text near-dup: chains A~B~C must collapse to
    ONE survivor, not pairwise-drop to zero.

    The cell-assigned frame is PERSISTED for the pair self-join
    (round-4 review: uncached, the corpus scan + matmul assignment
    ran once per join side) and released as soon as connected
    components has materialized the edge set; the survivor anti-join
    then reads the input once more — two passes over the corpus
    total, matching curate()'s staged-cache discipline."""
    from pyspark import StorageLevel

    from .dedup import dedup_keep_one_per_cluster

    cents = ivf_train_centroids(
        df, dim, n_cells=n_cells, vec_col=vec_col, seed=seed
    )
    assigned = ivf_assign(df, cents, id_col, vec_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    pairs = _within_group_cosine_pairs(
        assigned, "cell", id_col, vec_col, min_cos, dim=dim
    )
    # dedup_keep_one_per_cluster materializes the edge set eagerly
    # (localCheckpoint inside connected_components), so the assigned
    # cache has served its purpose once it returns
    survivors = dedup_keep_one_per_cluster(df, pairs, id_col)
    assigned.unpersist()
    return survivors


# ---------------------------------------------------------------------------
# Product quantization (PQ) — Jégou, Douze, Schmid 2011, "Product
# quantization for nearest neighbor search" (public paper; the
# FAISS-PQ shape on DataFrames)
# ---------------------------------------------------------------------------

def pq_train_codebooks(
    df: DataFrame,
    dim: int,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    max_sample: int = 4096,
    iters: int = 12,
    seed: int = 42,
) -> np.ndarray:
    """Train PQ sub-codebooks: split each vector into ``m`` contiguous
    subvectors of ``dim // m`` dims and Lloyd-k-means each subspace
    independently to ``k`` centroids. Returns ``(m, k, dim // m)``.

    Training follows the ``ivf_train_centroids`` discipline exactly:
    a bounded deterministic hash-ordered sample (TakeOrdered on
    xxhash64 of the vector — position-independent, never a corpus
    prefix), so cost is O(max_sample) regardless of corpus size. Only
    :func:`pq_encode` touches every row.

    Why PQ at 100 TB: an encoded row is ``m`` small codes instead of
    ``dim`` floats — at the defaults (m=8) a 64-dim float32 embedding
    column shrinks 256 B → 8 B before parquet dictionary coding, so
    the serving scan reads ~3% of the embedding bytes and the ADC
    scoring below stays whole-stage-codegen JVM."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    rows = (
        df.select(vec_col)
        .orderBy(F.xxhash64(F.col(vec_col).cast("array<double>"), F.lit(seed)))
        .limit(max_sample)
        .collect()
    )
    X = np.asarray([list(r[0]) for r in rows], dtype=np.float64)
    if X.ndim != 2 or X.shape[1] != dim:
        raise ValueError(f"sampled vectors are not uniformly {dim}-dim")
    rng = np.random.default_rng(seed)
    books = np.empty((m, min(k, len(X)), sub), dtype=np.float64)
    for j in range(m):
        Xj = X[:, j * sub:(j + 1) * sub]
        cents = Xj[rng.choice(len(Xj), size=books.shape[1], replace=False)]
        for _ in range(iters):
            d2 = ((Xj[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(cents)):
                members = Xj[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books[j] = cents
    return books


def _pq_code_expr(vec_col: str, codebooks: np.ndarray) -> Column:
    """Per-subspace argmin, JVM-side: same dot-minus-half-norm argmax
    trick as :func:`_cell_expr`, over ``slice()``s of the vector."""
    m, k, sub = codebooks.shape
    v = F.col(vec_col).cast("array<double>")
    cells = []
    for j in range(m):
        vj = F.slice(v, j * sub + 1, sub)
        scores = F.array(*[
            dot(vj, _lit_vec(c)) - F.lit(float(np.dot(c, c)) / 2.0)
            for c in codebooks[j]
        ])
        cells.append(
            (F.array_position(scores, F.array_max(scores)) - 1).cast("int")
        )
    code = F.array(*cells)
    return F.when(
        v.isNotNull() & (F.size(v) == m * sub), code
    ).otherwise(F.lit(None).cast("array<int>"))


def _pq_code_udf(codebooks: np.ndarray):
    """Vectorized encode for production dims where the literal tree is
    codegen-hostile: one (batch x sub) @ (sub x k) matmul per subspace
    per Arrow batch."""
    from pyspark.sql.types import ArrayType, IntegerType

    C = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, k, sub = C.shape
    half_norms = 0.5 * (C * C).sum(axis=2)  # (m, k)
    dim = m * sub

    @F.pandas_udf(ArrayType(IntegerType()))
    def code(vecs: pd.Series) -> pd.Series:
        out = []
        for v in vecs:
            if v is None or len(v) != dim:
                out.append(None)
                continue
            x = np.asarray(v, dtype=np.float64).reshape(m, sub)
            # scores[j, c] = dot(x_j, C[j,c]) - |C[j,c]|^2 / 2
            scores = np.einsum("js,jcs->jc", x, C) - half_norms
            out.append([int(c) for c in scores.argmax(axis=1)])
        return pd.Series(out, dtype=object)

    return code


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to its ``m`` nearest-sub-centroid codes:
    ``(id, pq_code array<int>)``. Auto-selects the pure-JVM expression
    below ``_LITERAL_BUDGET`` total codebook literals and the
    vectorized matmul UDF (one Arrow hop) above it — same plumbing and
    same interpreted-higher-order-function rationale as ``ivf_assign``
    (see the budget note; PQ measured 0.43s vs 1.65s on 2k rows even
    before the per-row cost dominates).
    Narrow output on purpose — the codes table IS the index; the
    embedding column never travels with it."""
    from inxs_spark.operators.fanout import ensure_compute_fanout

    df = ensure_compute_fanout(df)  # round 6: see cosine_topk
    return df.select(
        F.col(id_col), _pq_code_col(codebooks, vec_col).alias("pq_code")
    )


def _pq_code_col(codebooks: np.ndarray, vec_col: str) -> Column:
    """The code column with the expr/UDF auto-switch — shared by
    :func:`pq_encode` and the IVF-PQ layout below."""
    if codebooks.size > _LITERAL_BUDGET:
        return _pq_code_udf(codebooks)(F.col(vec_col))
    return _pq_code_expr(vec_col, codebooks)


def pq_write_index(
    df: DataFrame,
    codebooks: np.ndarray,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the PQ index: the codes table as parquet plus the
    codebooks as JSON alongside (tiny: m*k*sub doubles). Queries then
    read ONLY ``(id, pq_code)`` — at 100 TB that is the difference
    between scanning the corpus's embedding bytes and scanning ~3% of
    them. Codebooks are written LAST as the commit marker (a partial
    codes write without codebooks.json is unreadable, not wrong)."""
    import os

    from ..sources.io import write_json_atomic

    pq_encode(df, codebooks, id_col, vec_col).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "codes"))
    meta = {
        "m": int(codebooks.shape[0]),
        "k": int(codebooks.shape[1]),
        "sub": int(codebooks.shape[2]),
        "codebooks": codebooks.tolist(),
    }
    write_json_atomic(os.path.join(path, "codebooks.json"), meta)


def pq_read_codebooks(path: str) -> np.ndarray:
    import json
    import os

    with open(os.path.join(path, "codebooks.json")) as fh:
        meta = json.load(fh)
    return np.asarray(meta["codebooks"], dtype=np.float64).reshape(
        meta["m"], meta["k"], meta["sub"]
    )


def _pq_lut_term(code_col: str, lut: np.ndarray, j: int) -> Column:
    """lut[j][code[j]] as a JVM expression (array-literal lookup)."""
    return F.element_at(
        F.array(*[F.lit(float(x)) for x in lut[j]]),
        F.element_at(F.col(code_col), j + 1) + F.lit(1),
    )


def pq_topk(
    codes_df: DataFrame,
    codebooks: np.ndarray,
    query_vec: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
) -> DataFrame:
    """Asymmetric-distance (ADC) approximate cosine top-k over a PQ
    codes table, entirely JVM-side: the driver precomputes two tiny
    per-subspace lookup tables from the query (inner products and
    centroid norms, m x k doubles each), and every row's score is a
    sum of ``m`` array-literal lookups —

        approx_cos = sum_j ip[j][code_j]
                     / (|q| * sqrt(sum_j nrm[j][code_j]))

    i.e. cosine between the query and the row's RECONSTRUCTED vector,
    without ever reconstructing it. One scan of (id, code), a narrow
    TakeOrdered, zero Python and zero shuffle — the 100 TB serving
    shape. Ties broken by id for determinism."""
    m, kk, sub = codebooks.shape
    q = np.asarray(list(query_vec), dtype=np.float64)
    if len(q) != m * sub:
        raise ValueError(f"query dim {len(q)} != codebook dim {m * sub}")
    qn = float(np.sqrt(np.dot(q, q)))
    ip = np.array([
        codebooks[j] @ q[j * sub:(j + 1) * sub] for j in range(m)
    ])  # (m, k) query-subvector inner products
    nrm = (codebooks * codebooks).sum(axis=2)  # (m, k) centroid sq-norms
    ip_sum = sum(
        (_pq_lut_term(code_col, ip, j) for j in range(1, m)),
        _pq_lut_term(code_col, ip, 0),
    )
    nrm_sum = sum(
        (_pq_lut_term(code_col, nrm, j) for j in range(1, m)),
        _pq_lut_term(code_col, nrm, 0),
    )
    score = F.when(
        nrm_sum > 0, ip_sum / (F.lit(qn) * F.sqrt(nrm_sum))
    ).otherwise(F.lit(None).cast("double"))
    return (
        codes_df.filter(
            F.col(code_col).isNotNull() & (F.size(F.col(code_col)) == m)
        )
        .select(F.col(id_col), score.alias("approx_cos"))
        .orderBy(F.desc("approx_cos"), F.col(id_col))
        .limit(k)
    )


def pq_topk_indexed(
    spark,
    path: str,
    query_vec: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k against a materialized PQ index (:func:`pq_write_index`):
    read codebooks.json, scan only the codes parquet."""
    import os

    books = pq_read_codebooks(path)
    codes = spark.read.parquet(os.path.join(path, "codes"))
    return pq_topk(codes, books, query_vec, k, id_col)


def pq_topk_reranked(
    df: DataFrame,
    codebooks: np.ndarray,
    query_vec: Sequence[float],
    k: int = 10,
    shortlist: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes_df: Optional[DataFrame] = None,
) -> DataFrame:
    """PQ shortlist + exact rerank — the standard two-stage serving
    recipe: ADC ranks a ``shortlist`` of candidates from the codes
    (cheap, JVM, codes-only scan), then ONLY those ids are joined back
    to the full vectors for exact cosine. The shortlist is tiny by
    construction, so the rerank join broadcasts it; the expensive
    embedding column is read for ``shortlist`` rows, not the corpus.
    Recall ≥ the raw ADC top-k by construction (superset shortlist,
    exact final order)."""
    from pyspark.sql.functions import broadcast

    codes = codes_df if codes_df is not None else pq_encode(
        df, codebooks, id_col, vec_col
    )
    short = pq_topk(codes, codebooks, query_vec, max(k, shortlist), id_col)
    cands = df.join(broadcast(short.select(id_col)), id_col)
    return cosine_topk(cands, query_vec, k, id_col, vec_col)


# ---------------------------------------------------------------------------
# IVF-PQ — the composed FAISS-IVFPQ layout: coarse cells prune the
# SCAN, PQ codes shrink what's scanned
# ---------------------------------------------------------------------------

def ivfpq_write_index(
    df: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the composed index: every vector gets its coarse
    IVF cell AND its PQ code in ONE pass over the corpus, written as a
    ``(id, pq_code)`` parquet PARTITIONED BY cell. A query then reads
    ``nprobe/n_cells`` of a table whose rows are ``m`` small ints —
    the two pruning axes multiply (at the defaults ~4/16 of ~3% of the
    embedding bytes). Metadata (centroids + codebooks) is written LAST
    as the atomic commit marker, same contract as
    :func:`pq_write_index`."""
    import os

    from inxs_spark.operators.fanout import ensure_compute_fanout

    from ..sources.io import write_json_atomic

    df = ensure_compute_fanout(df)  # round 6: see cosine_topk
    if centroids.size > _LITERAL_BUDGET:
        cell = _cell_udf(centroids)(F.col(vec_col))
    else:
        cell = _cell_expr(vec_col, centroids)
    coded = df.select(
        F.col(id_col),
        _pq_code_col(codebooks, vec_col).alias("pq_code"),
        cell.alias("cell"),
    )
    coded.write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(path, "codes")
    )
    meta = {
        "m": int(codebooks.shape[0]),
        "k": int(codebooks.shape[1]),
        "sub": int(codebooks.shape[2]),
        "codebooks": codebooks.tolist(),
        "centroids": centroids.tolist(),
    }
    write_json_atomic(os.path.join(path, "ivfpq.json"), meta)


def ivfpq_read_meta(path: str) -> tuple[np.ndarray, np.ndarray]:
    """(centroids, codebooks) from a materialized IVF-PQ index."""
    import json
    import os

    with open(os.path.join(path, "ivfpq.json")) as fh:
        meta = json.load(fh)
    books = np.asarray(meta["codebooks"], dtype=np.float64).reshape(
        meta["m"], meta["k"], meta["sub"]
    )
    cents = np.asarray(meta["centroids"], dtype=np.float64)
    return cents, books


def ivfpq_topk(
    spark,
    path: str,
    query_vec: Sequence[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    rerank_df: Optional[DataFrame] = None,
    vec_col: str = "embedding",
    shortlist: int = 64,
) -> DataFrame:
    """Approximate top-k against a materialized IVF-PQ index: rank
    cells driver-side (numpy over the centroid matrix), scan ONLY the
    nprobe code partitions (PartitionFilters — test-asserted), score
    with JVM-side ADC. Pass ``rerank_df`` (the full-vector table) to
    finish with the exact-cosine rerank of the ADC shortlist — the
    production recipe; without it the raw ADC ranking is returned."""
    cents, books = ivfpq_read_meta(path)
    qv = np.asarray(list(query_vec), dtype=np.float64)
    d2 = ((cents - qv[None, :]) ** 2).sum(axis=1)
    probes = [int(c) for c in d2.argsort()[:nprobe]]
    import os

    codes = spark.read.parquet(os.path.join(path, "codes")).filter(
        F.col("cell").isin(probes)
    )
    if rerank_df is None:
        return pq_topk(codes, books, qv, k, id_col)
    from pyspark.sql.functions import broadcast

    short = pq_topk(codes, books, qv, max(k, shortlist), id_col)
    cands = rerank_df.join(broadcast(short.select(id_col)), id_col)
    return cosine_topk(cands, qv, k, id_col, vec_col)


# -- full-corpus k-means refinement + cluster-balanced sampling ----------

#: above this dim the per-cell mean is computed via mapInPandas
#: partial sums instead of `dim` avg() columns — a groupBy with
#: hundreds of aggregate expressions exceeds Spark's codegen field
#: budget (spark.sql.codegen.maxFields = 100) and runs interpreted,
#: while the partial-sum path does one numpy matmul per Arrow batch
#: and shuffles only (cell, pos, partial_sum) narrow rows
_KMEANS_AVG_COLS_MAX_DIM = 64


def _kmeans_stats_exprs(
    df: DataFrame, centroids: np.ndarray, vec_col: str
) -> list:
    """Per-cell (count, elementwise mean) via `dim` avg() columns —
    the pure-JVM path for modest dims. Map-side partial aggregation:
    the shuffle carries k x dim doubles per map task, never vectors."""
    dim = centroids.shape[1]
    from inxs_spark.operators.fanout import ensure_compute_fanout

    df = ensure_compute_fanout(df)  # round 6: see cosine_topk
    if centroids.size > _LITERAL_BUDGET:
        cell = _cell_udf(centroids)(F.col(vec_col))
    else:
        cell = _cell_expr(vec_col, centroids)
    assigned = df.select(F.col(vec_col), cell.alias("cell"))
    v = F.col(vec_col).cast("array<double>")
    return (
        assigned.filter(F.col("cell").isNotNull())
        .groupBy("cell")
        .agg(
            F.count("*").alias("n"),
            *[F.avg(v[i]).alias(f"m{i}") for i in range(dim)],
        )
        .collect()
    )


def _kmeans_stats_partials(
    df: DataFrame, centroids: np.ndarray, vec_col: str
) -> list:
    """Per-cell (count, elementwise mean) via mapInPandas partial
    sums — the production-dim path. Each Arrow batch contributes at
    most k rows of (cell, n, sum-vector); the combine explodes those
    FEW partial rows to (cell, pos, s) narrow rows and sums — the
    full vectors never shuffle, and the driver collects only
    k + k x dim scalars."""
    C = np.ascontiguousarray(centroids, dtype=np.float64)
    half = 0.5 * (C * C).sum(axis=1)
    k, dim = C.shape

    def gen(batches):
        for pdf in batches:
            vals = pdf[vec_col].to_numpy()
            valid = np.array(
                [v is not None and len(v) == dim for v in vals], dtype=bool
            )
            if not valid.any():
                continue
            X = np.vstack(vals[valid]).astype(np.float64, copy=False)
            cells = (X @ C.T - half[None, :]).argmax(axis=1)
            rows = []
            for c in np.unique(cells):
                m = cells == c
                rows.append((int(c), int(m.sum()), X[m].sum(axis=0).tolist()))
            yield pd.DataFrame(rows, columns=["cell", "n", "sums"])

    partials = df.select(vec_col).mapInPandas(
        gen, "cell int, n long, sums array<double>"
    )
    from pyspark.storagelevel import StorageLevel

    partials = partials.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        ns = {r["cell"]: r["n"] for r in
              partials.groupBy("cell").agg(F.sum("n").alias("n")).collect()}
        sums = (
            partials.select("cell", F.posexplode("sums").alias("pos", "s"))
            .groupBy("cell", "pos")
            .agg(F.sum("s").alias("s"))
            .collect()
        )
    finally:
        partials.unpersist()
    S = np.zeros((k, dim))
    for r in sums:
        S[r["cell"], r["pos"]] = r["s"]
    out = []
    for c, n in ns.items():
        row = {"cell": c, "n": n}
        for i in range(dim):
            row[f"m{i}"] = S[c, i] / n
        out.append(row)
    return out


def kmeans_refine(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    iters: int = 1,
) -> tuple[np.ndarray, dict[int, int]]:
    """Full-corpus Lloyd refinement of (sample-trained) centroids —
    the step :func:`ivf_train_centroids` deliberately skips (its
    training is O(sample)). Per iteration: ONE assignment pass (the
    shared expr/UDF switch) and ONE aggregation computing per-cell
    counts + elementwise means; the driver holds only k x dim. Empty
    cells keep their previous centroid (no re-seeding — deterministic
    across engines). Returns (refined centroids, final cell sizes).

    At 100 TB each iteration is one corpus scan; dims above
    ``_KMEANS_AVG_COLS_MAX_DIM`` use the mapInPandas partial-sum
    combine (full vectors never shuffle), smaller dims stay pure-JVM
    as `dim` avg() columns with map-side partial aggregation."""
    C = np.array(centroids, dtype=np.float64, copy=True)
    k, dim = C.shape
    sizes: dict[int, int] = {}
    for _ in range(max(1, iters)):
        if dim > _KMEANS_AVG_COLS_MAX_DIM:
            stats = _kmeans_stats_partials(df, C, vec_col)
        else:
            stats = _kmeans_stats_exprs(df, C, vec_col)
        sizes = {int(r["cell"]): int(r["n"]) for r in stats}
        for r in stats:
            C[int(r["cell"])] = [float(r[f"m{i}"]) for i in range(dim)]
    return C, sizes


def cluster_balanced_sample(
    df: DataFrame,
    centroids: np.ndarray,
    quota: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """At most ``quota`` rows per k-means cell, chosen in md5-hash
    order of the id — cluster-balanced corpus subsampling (diversity
    sampling over embedding clusters: frequent modes are capped,
    rare modes survive whole). Selection reuses the ONE shared keyed-
    quota primitive (text.deterministic_quota) so the rule can never
    drift from the per-language / per-domain quotas; rows whose
    vector is null/wrong-dim get no cell and are dropped. One
    assignment map + one spillable window per cell. All caller
    columns are preserved (plus the assigned ``cell``) — this is a
    row sampler, not a projection."""
    from inxs_spark.operators.text import deterministic_quota

    from inxs_spark.operators.fanout import ensure_compute_fanout

    df = ensure_compute_fanout(df)  # round 6: see cosine_topk
    if centroids.size > _LITERAL_BUDGET:
        cell = _cell_udf(centroids)(F.col(vec_col))
    else:
        cell = _cell_expr(vec_col, centroids)
    assigned = df.withColumn("cell", cell)
    return deterministic_quota(
        assigned.filter(F.col("cell").isNotNull()), "cell", id_col, quota
    )
