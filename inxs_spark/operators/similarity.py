"""Similarity search over an embedding column (array<float>).

- ``cosine_topk`` — brute-force cosine top-k against a query vector.
  The correctness baseline: one scan, one narrow top-k (TakeOrdered),
  no shuffle of the embedding column.
- ``hyperplane_lsh_buckets`` / ``ann_topk`` — the scale path: random-
  hyperplane LSH (sign bits of H dot products → bucket key). At 100 TB
  you pre-bucket once (one shuffle, or bucketed table layout), then a
  query probes its own bucket + hamming-1 neighbors instead of scanning
  everything. Planes are seeded numpy → deterministic.
- ``pairwise_ann_candidates`` — all-pairs near-neighbor candidates via
  shared bucket, for embedding-cosine near-dup detection.

Every per-row vector computation (query cosine, pair cosine, LSH
bucket, IVF cell, PQ code, k-means partial sums) is a NumPy kernel
run once per Arrow batch. The public ``dot`` / ``norm`` / ``cosine``
Column helpers are higher-order functions that Spark interprets per
row and never codegens (measured 2.6-40x slower, PLANS.md §15); they
stay for ad-hoc queries only. Every kernel reads its batch through
:func:`_vectors` and maps a null, wrong-dim or holed vector (a null
element) to NULL — never NaN, never a crashed batch, never a silent
bucket or cell 0.
"""

from __future__ import annotations

import logging
import math
from typing import Optional, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import ArrayType, DoubleType, IntegerType, LongType

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


def _vectors(vecs: pa.Array, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """(mask of the rows holding a ``dim``-long vector with no null
    element, those rows as one ``(n_valid, dim)`` float64 matrix) for
    one Arrow list column: the list values are flattened once and
    reshaped, with no Python loop over rows or elements.

    A kernel builds its result with ``pa.array(values, mask=...)``:
    a NULL must be a real Arrow null, because an Arrow UDF returns NaN
    as NaN and Spark orders NaN above every double — a NaN cosine would
    win a top-k and pass any ``>=`` threshold."""
    valid = pc.fill_null(
        pc.equal(pc.list_value_length(vecs), dim), False
    ).to_numpy(zero_copy_only=False)
    flat = vecs.flatten()
    if flat.null_count:
        holes = flat.is_null().to_numpy(zero_copy_only=False)
        valid[pc.list_parent_indices(vecs).to_numpy()[holes]] = False
    if not valid.all():
        flat = vecs.filter(pa.array(valid)).flatten()
    X = flat.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
    return valid, X.reshape(int(valid.sum()), dim)


def _cosines(num: np.ndarray, den: np.ndarray) -> np.ndarray:
    """num / den with a zero denominator (a zero vector) giving NaN."""
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(den > 0, num / den, np.nan)


def _nan_as_null(out: np.ndarray) -> pa.Array:
    """A cosine result column: NaN (a masked row or a zero vector)
    becomes an Arrow null."""
    return pa.array(out, mask=np.isnan(out))


def _query_cos_udf(query_vec: np.ndarray):
    """cos(query, v) as one (batch x dim) @ dim matmul per Arrow
    batch."""
    q = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.sqrt(q @ q))
    dim = len(q)

    @F.arrow_udf(DoubleType())
    def qcos(vecs: pa.Array) -> pa.Array:
        valid, X = _vectors(vecs, dim)
        out = np.full(len(vecs), np.nan)
        out[valid] = _cosines(X @ q, np.sqrt((X * X).sum(axis=1)) * qn)
        return _nan_as_null(out)

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
    (no full sort, no shuffle of embeddings); the projection is one
    vectorized Arrow hop, rounded to 4 decimals. Rows whose vector is
    null or not query-dim score NULL and sort last."""
    raw = _query_cos_udf(np.asarray(query_vec, dtype=np.float64))(F.col(vec_col))
    out = df.select(F.col(id_col), F.round(raw, 4).alias("cos"))
    if exclude_id is not None:
        out = out.filter(F.col(id_col) != exclude_id)
    return out.orderBy(F.desc("cos"), F.col(id_col)).limit(k)


def hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def bucket_key_udf(vec_col: str, planes: np.ndarray) -> Column:
    """Sign-bit bucket id: bit h set iff dot(vec, plane_h) > 0, as ONE
    vectorized matrix multiply per Arrow batch (the MinHash precedent:
    numpy beats a giant expression tree). The driver-side query bucket
    in :func:`ann_topk` uses the same float64 numpy dot. Null,
    wrong-dim and holed rows get a NULL bucket, never a silent
    bucket 0."""
    P = np.ascontiguousarray(planes, dtype=np.float64)
    weights = (1 << np.arange(P.shape[0], dtype=np.int64))

    dim = P.shape[1]

    @F.arrow_udf(LongType())
    def key(vecs: pa.Array) -> pa.Array:
        valid, X = _vectors(vecs, dim)
        out = np.zeros(len(vecs), dtype=np.int64)
        out[valid] = (((X @ P.T) > 0) * weights).sum(axis=1)
        return pa.array(out, mask=~valid)

    return key(F.col(vec_col))


def hyperplane_lsh_buckets(
    df: DataFrame,
    dim: int,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    key = bucket_key_udf(vec_col, hyperplanes(dim, n_planes, seed))
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
    count entirely; otherwise a distributed JVM count of ``df`` runs —
    a full (zero-column, codegen, metadata-fast on plain parquet
    scans) pass, so a ``n_rows`` metadata hint is always the cheaper
    path at scale. Planes err LOW past the hi clamp: too-few planes
    costs bucket size, never recall — too MANY planes is the recall
    killer for single-table hyperplane LSH."""
    if n_planes is None:
        if n_rows is None:
            n_rows = df.count()
        n_planes = derive_n_planes(n_rows)
        logger.info(
            "pairwise_ann_candidates: n=%d -> n_planes=%d "
            "(ceil(log2(n/32)) clamped to [4,24]; 2^p=%d buckets)",
            n_rows, n_planes, 2 ** n_planes,
        )
    bucketed = hyperplane_lsh_buckets(df, dim, n_planes, id_col, vec_col, seed)
    return _within_group_cosine_pairs(
        bucketed, "bucket", id_col, vec_col, min_cos
    ).distinct()


@F.arrow_udf(DoubleType())  # a DDL string would need a session at import
def _pair_cos_udf(va: pa.Array, vb: pa.Array) -> pa.Array:
    """cos(v_a, v_b) rowwise as vectorized numpy per Arrow batch. A
    pair whose vectors are null, holed or differ in length scores
    NULL."""
    out = np.full(len(va), np.nan)
    lens = pc.list_value_length(va).fill_null(-1).to_numpy()
    for dim in np.unique(lens[lens >= 0]).tolist():  # one length on clean data
        ok_a, A = _vectors(va, dim)
        ok_b, B = _vectors(vb, dim)
        both = ok_a & ok_b
        A, B = A[both[ok_a]], B[both[ok_b]]
        out[both] = _cosines(
            (A * B).sum(axis=1),
            np.sqrt((A * A).sum(axis=1) * (B * B).sum(axis=1)),
        )
    return _nan_as_null(out)


def _within_group_cosine_pairs(
    grouped: DataFrame,
    key_col: str,
    id_col: str,
    vec_col: str,
    min_cos: float,
) -> DataFrame:
    """Shared within-group pair machinery for every bucketed/celled
    cosine near-dup path: self-join on the group key, id_a < id_b,
    threshold on the RAW cosine (rounding before the filter would
    flip pairs at e.g. the 0.44995 boundary — round-4 review
    finding; the rounded value is emitted for display/oracle only).
    The per-pair cosine is one vectorized Arrow hop — at scale the
    pair count is the hot loop of semantic dedup."""
    a = grouped.select(
        F.col(key_col), F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("v_a"),
    )
    b = grouped.select(
        F.col(key_col), F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("v_b"),
    )
    raw = _pair_cos_udf(
        F.col("v_a").cast("array<double>"), F.col("v_b").cast("array<double>")
    )
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


def _cell_udf(centroids: np.ndarray):
    """Nearest-centroid cell, argmin_c ||v - c||^2 == argmax_c
    (dot(v, c) - ||c||^2 / 2): one (batch x dim) @ (dim x cells)
    matmul per Arrow batch. Null, wrong-dim and holed rows get a NULL
    cell."""
    C = np.ascontiguousarray(centroids, dtype=np.float64)
    half_norms = 0.5 * (C * C).sum(axis=1)

    dim = C.shape[1]

    @F.arrow_udf(IntegerType())
    def cell(vecs: pa.Array) -> pa.Array:
        valid, X = _vectors(vecs, dim)
        out = np.zeros(len(vecs), dtype=np.int32)
        out[valid] = (X @ C.T - half_norms[None, :]).argmax(axis=1)
        return pa.array(out, mask=~valid)

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
    partition layout; no shuffle at query time."""
    cell = _cell_udf(centroids)(F.col(vec_col))
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


def _nearest_cells(centroids: np.ndarray, qv: np.ndarray,
                   nprobe: int) -> list[int]:
    """The ``nprobe`` cells whose centroids are nearest the query by
    squared Euclidean distance, nearest first — the driver-side probe
    ranking of every IVF search."""
    d2 = ((centroids - qv[None, :]) ** 2).sum(axis=1)
    return [int(c) for c in d2.argsort()[:nprobe]]


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
    probes = _nearest_cells(centroids, qv, nprobe)
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
    probes = _nearest_cells(centroids, qv, nprobe)
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
    key; cell assignment is the IVF matmul UDF."""
    cents = ivf_train_centroids(
        df, dim, n_cells=n_cells, vec_col=vec_col, seed=seed
    )
    assigned = ivf_assign(df, cents, id_col, vec_col)
    return _within_group_cosine_pairs(assigned, "cell", id_col, vec_col, min_cos)


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
    total, matching curate()'s staged-cache discipline.

    The result is lazy over the component labels, which
    :func:`~inxs_spark.operators.dedup.connected_components` holds in
    a local checkpoint: once every action on the result has run, the
    caller releases them with ``release_checkpoint(result)`` (from
    :mod:`inxs_spark.operators.dedup`)."""
    from pyspark import StorageLevel

    from .dedup import connected_components, keep_cluster_min

    cents = ivf_train_centroids(
        df, dim, n_cells=n_cells, vec_col=vec_col, seed=seed
    )
    assigned = ivf_assign(df, cents, id_col, vec_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    pairs = _within_group_cosine_pairs(assigned, "cell", id_col, vec_col, min_cos)
    # connected_components materializes the edge set eagerly (local
    # checkpoint), so the assigned cache has served its purpose once
    # it returns
    clusters = connected_components(pairs)
    assigned.unpersist()
    return keep_cluster_min(df, clusters, id_col)


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


def _pq_code_udf(codebooks: np.ndarray):
    """Per-subspace nearest sub-centroid codes, one Arrow batch per
    call: every valid row's ``m`` subvectors are scored against their
    codebooks with one batched ``einsum`` (n x m x k scores). Null,
    wrong-dim and holed rows get a NULL code."""
    C = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, k, sub = C.shape
    half_norms = 0.5 * (C * C).sum(axis=2)  # (m, k)
    dim = m * sub

    @F.arrow_udf(ArrayType(IntegerType()))
    def code(vecs: pa.Array) -> pa.Array:
        valid, X = _vectors(vecs, dim)
        # scores[n, j, c] = dot(x_nj, C[j,c]) - |C[j,c]|^2 / 2
        scores = np.einsum("njs,jcs->njc", X.reshape(-1, m, sub), C) - half_norms
        codes = scores.argmax(axis=2).astype(np.int32).ravel()
        offsets = np.concatenate(([0], np.cumsum(valid * m))).astype(np.int32)
        return pa.ListArray.from_arrays(offsets, codes, mask=pa.array(~valid))

    return code


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to its ``m`` nearest-sub-centroid codes:
    ``(id, pq_code array<int>)`` through one Arrow hop.
    Narrow output on purpose — the codes table IS the index; the
    embedding column never travels with it."""
    return df.select(
        F.col(id_col), _pq_code_udf(codebooks)(F.col(vec_col)).alias("pq_code")
    )


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
    codes write without codebooks.json is unreadable, not wrong).
    Query it with ``pq_topk(spark.read.parquet(<path>/codes),
    pq_read_codebooks(<path>), query_vec)``."""
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

    from ..sources.io import write_json_atomic

    coded = df.select(
        F.col(id_col),
        _pq_code_udf(codebooks)(F.col(vec_col)).alias("pq_code"),
        _cell_udf(centroids)(F.col(vec_col)).alias("cell"),
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
    probes = _nearest_cells(cents, qv, nprobe)
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

def _kmeans_stats_partials(
    df: DataFrame, centroids: np.ndarray, vec_col: str
) -> list:
    """Per-cell (count, elementwise mean) via mapInArrow partial
    sums. Each Arrow batch contributes at most k rows of (cell, n,
    sum-vector); the combine explodes those FEW partial rows to
    (cell, pos, s) narrow rows and sums — the full vectors never
    shuffle, no aggregate grows with dim (a groupBy with one avg()
    per dim runs interpreted past spark.sql.codegen.maxFields), and
    the driver collects only k + k x dim scalars. Null, wrong-dim and
    holed rows belong to no cell."""
    from ..sources.io import row_batcher

    C = np.ascontiguousarray(centroids, dtype=np.float64)
    half = 0.5 * (C * C).sum(axis=1)
    k, dim = C.shape
    ddl = "cell int, n long, sums array<double>"
    to_batch = row_batcher(ddl)

    def gen(batches):
        for batch in batches:
            valid, X = _vectors(batch.column(0), dim)
            if not valid.any():
                continue
            cells = (X @ C.T - half[None, :]).argmax(axis=1)
            rows = []
            for c in np.unique(cells):
                m = cells == c
                rows.append((int(c), int(m.sum()), X[m].sum(axis=0).tolist()))
            yield to_batch(rows)

    partials = df.select(vec_col).mapInArrow(gen, ddl)
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
    training is O(sample)). Per iteration: ONE pass that assigns
    cells and sums vectors per Arrow batch, and ONE combine of those
    partials (:func:`_kmeans_stats_partials`); the driver holds only
    k x dim. Empty cells keep their previous centroid (no re-seeding
    — deterministic across engines). Returns (refined centroids,
    final cell sizes). At 100 TB each iteration is one corpus scan."""
    C = np.array(centroids, dtype=np.float64, copy=True)
    k, dim = C.shape
    sizes: dict[int, int] = {}
    for _ in range(max(1, iters)):
        stats = _kmeans_stats_partials(df, C, vec_col)
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

    assigned = df.withColumn("cell", _cell_udf(centroids)(F.col(vec_col)))
    return deterministic_quota(
        assigned.filter(F.col("cell").isNotNull()), "cell", id_col, quota
    )
