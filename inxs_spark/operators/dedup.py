"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard. Designed for the 100 TB path:

- exact: one hash-aggregate shuffle on a 16-byte digest (never the
  full text) — partial aggregation map-side, AQE handles skew.
- MinHash+LSH: signatures come from one Arrow UDF (``arrow_udf``) that
  shingles and hashes each Arrow batch (a per-permutation HOF-lambda
  expression is interpreted, not codegen'd, and measured ~50x
  slower); banding explodes to (band, key) and one groupBy finds
  candidate buckets; hot buckets are capped to bound the quadratic
  pair expansion.
- SimHash: one Arrow UDF (numpy bit-twiddling — the only
  place Python genuinely beats a 64-lambda expression tree), then
  block-index on 16-bit chunks (pigeonhole: hamming ≤ 3 ⇒ one of 4
  blocks equal) and verify with JVM-side bit_count(xor).
- n-gram Jaccard: exact verification on candidate pairs via
  array_intersect/array_union — JVM-side set ops.
"""

from __future__ import annotations

import pyarrow as pa

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import ArrayType, LongType


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_duplicate_groups(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Groups of byte-identical docs: (fp_md5, n_dups, keep_id). The
    shuffle key is the digest, not the document."""
    return (
        df.select(F.md5(F.col(text_col)).alias("fp_md5"), F.col(id_col))
        .groupBy("fp_md5")
        .agg(
            F.count("*").cast("long").alias("n_dups"),
            F.min(id_col).alias("keep_id"),
        )
        .filter(F.col("n_dups") > 1)
    )


def exact_dedup(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Keep exactly one row (min id) per distinct text."""
    from pyspark.sql.window import Window

    ranked = df.withColumn("__fp", F.md5(F.col(text_col))).withColumn(
        "__rn",
        F.row_number().over(Window.partitionBy("__fp").orderBy(id_col)),
    )
    return ranked.filter(F.col("__rn") == 1).drop("__fp", "__rn")


# ---------------------------------------------------------------------------
# MinHash + LSH (word shingles)
# ---------------------------------------------------------------------------

#: the shingle unit, recorded in every MinHash index's meta.json: k-word
#: grams (the standard for document-level near-dup; ~6x fewer shingles
#: than k-character grams at equal recall)
SHINGLE_MODE = "word"


def shingles(text_col: str, k: int = 3) -> Column:
    """Distinct k-word shingles (``SHINGLE_MODE``), JVM-side."""
    # Bind split({text_col}, ' ') ONCE via the single-element-array
    # transform trick (SQL has no let): the previous form re-ran the
    # regex split inside every lambda element — O(words) splits per doc
    # (~49x the regex work at k=3; HOF lambdas are interpreted, so
    # nothing CSEs them away). Values are byte-identical: same split,
    # same slice/array_join/array_distinct.
    return F.expr(
        f"transform(array(split({text_col}, ' ')), ws -> "
        f"array_distinct(transform("
        f"sequence(1, greatest(size(ws) - {k} + 1, 1)),"
        f" i -> array_join(slice(ws, i, {k}), ' '))))[0]"
    )


_MERSENNE31 = (1 << 31) - 1


#: per-task shingle→base-hash memo bound (the tokenizer.py memo
#: discipline): template-heavy corpora repeat shingles heavily — the
#: sf1.0 bench table measures a 94x repeat factor (2.62M shingle
#: instances, 27.9k distinct) — so caching the pure blake2b+mod step
#: removes ~90% of the hashing work; the bound caps worker memory on
#: genuinely high-entropy corpora (~100 MB worst case per worker).
_MINHASH_MEMO_MAX = 1_000_000


def _memo_fill(memo: dict, keys: list, vals: list, cap: int) -> None:
    """Remember as many key→value misses as fit: ``memo`` never grows
    past ``cap`` entries."""
    room = cap - len(memo)
    if room > 0:
        memo.update(zip(keys[:room], vals[:room]))


def _make_minhash_udf(num_perm: int, k: int):
    """Vectorized MinHash signatures: per batch, shingle → 64-bit base
    hash (blake2b, process-independent), then all permutations at once
    via numpy broadcast (a_j * h + b_j) mod M31. Arrow-batched — no
    per-row Python at the API level. Round 6: the per-shingle
    int.from_bytes loop became one np.frombuffer over the concatenated
    digests (byte-identical — big-endian uint64 == from_bytes 'big',
    and mod M31 commutes), and a bounded per-task memo skips blake2b
    for repeated shingles entirely (signatures are a min over the
    base-hash set, so lookup order is irrelevant)."""
    memo: dict = {}  # captured by the UDF closure — one per task

    @F.arrow_udf(ArrayType(LongType()))
    def sig_udf(texts: pa.Array) -> pa.Array:
        import numpy as np
        from hashlib import blake2b

        rng = np.random.default_rng(42)
        A = rng.integers(1, _MERSENNE31, size=num_perm, dtype=np.int64)
        B = rng.integers(0, _MERSENNE31, size=num_perm, dtype=np.int64)
        m31_u64 = np.uint64(_MERSENNE31)
        get = memo.get

        def one(text):
            if not text:
                return [int(_MERSENNE31)] * num_perm
            words = text.split(" ")
            n = max(len(words) - k + 1, 1)
            items = {" ".join(words[i:i + k]) for i in range(n)}
            vals = []
            miss = []
            for s in items:
                v = get(s)
                if v is None:
                    miss.append(s)
                else:
                    vals.append(v)
            if miss:
                buf = b"".join(
                    blake2b(s.encode(), digest_size=8).digest() for s in miss
                )
                mv = (np.frombuffer(buf, dtype=">u8") % m31_u64).astype(
                    np.int64
                ).tolist()
                _memo_fill(memo, miss, mv, _MINHASH_MEMO_MAX)
                vals.extend(mv)
            base = np.array(vals, dtype=np.int64)
            return ((A[:, None] * base[None, :] + B[:, None]) % _MERSENNE31).min(
                axis=1
            ).tolist()

        return pa.array([one(t) for t in texts.to_pylist()],
                        type=pa.list_(pa.int64()))

    return sig_udf


def derive_max_bucket(n_rows: int, lo: int = 64, hi: int = 4096) -> int:
    """Hot-bucket cap from corpus size: ~sqrt(n), clamped. The cap
    bounds the quadratic pair expansion inside boilerplate-identical
    buckets (cost per hot bucket ≤ cap²/2 pairs); growing it with
    sqrt(n) keeps big corpora from silently truncating moderately hot
    buckets while the hi clamp bounds worst-case task cost."""
    import math

    return min(max(lo, int(math.isqrt(max(n_rows, 1)))), hi)


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) from banded MinHash.

    rows-per-band r = num_perm/bands; two docs collide in a band iff
    all r mins agree → P(candidate) ≈ 1-(1-J^r)^bands. Hot buckets
    (boilerplate-identical shingle sets) are capped at ``max_bucket``
    ids to bound the quadratic expansion — ``None`` (default) derives
    the cap from the corpus size (one count job; logged), and the
    output surfaces where it binds: ``max_bucket_size`` is the largest
    bucket the pair met, and ``max_dropped`` how many ids that bucket
    had to drop (0 = cap never bound for this pair). No silent caps.
    """
    r = num_perm // bands
    assert bands * r == num_perm, "bands must divide num_perm"
    if max_bucket is None:
        # one count job (pass max_bucket explicitly to skip it)
        n = df.count()
        max_bucket = derive_max_bucket(n)
        import logging

        logging.getLogger(__name__).info(
            "minhash_lsh_candidates: n=%d -> max_bucket=%d "
            "(clamp(sqrt(n), 64, 4096))", n, max_bucket,
        )
    exploded = minhash_band_memberships(
        df, id_col, text_col, k=k, num_perm=num_perm, bands=bands
    )
    return _pairs_from_memberships(exploded, max_bucket)


def minhash_band_memberships(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 64,
    bands: int = 16,
) -> DataFrame:
    """(id, band, key) LSH band memberships — the unit the persisted
    incremental index stores (16 narrow rows/doc beats re-running the
    signature UDF over the corpus text on every new batch)."""
    r = num_perm // bands
    assert bands * r == num_perm, "bands must divide num_perm"
    sig_udf = _make_minhash_udf(num_perm, k)
    # No exchange barrier here (rounds 2-4 repartitioned on id to stop
    # the signature re-running once per band): on Spark 4's planner,
    # ExtractPythonUDFs materializes the Arrow UDF as ONE
    # ArrowEvalPython node whose OUTPUT ATTRIBUTE the band expression
    # references — the UDF cannot be inlined into the per-band lambda,
    # so the signature computes exactly once per row with zero
    # exchanges (plan pinned by test_memberships_single_udf_eval; the
    # removed repartition was the funnel's largest shuffle, ~40% of
    # the memberships wall at 1.2M docs — round-5 scaling profile).
    # Small single-row-group inputs would otherwise run the signature
    # UDF on one scan task — fan out first (a measured win; a no-op
    # unless the input plans fewer partitions than cores and does not
    # shuffle yet, see fanout.py). Round-robin, not a hash on the id:
    # over a few thousand documents a hash leaves the largest of four
    # tasks about 7% above the mean, and this stage is Python compute.
    from inxs_spark.operators.fanout import ensure_compute_fanout

    df = ensure_compute_fanout(df)
    sig = df.select(
        F.col(id_col).alias("id"), sig_udf(F.col(text_col)).alias("sig")
    )
    # band key = hash of the band's slice of the signature; one
    # expression over the materialized sig column
    band_keys = F.expr(
        f"transform(sequence(0, {bands - 1}), "
        f"b -> struct(b as band, xxhash64(slice(sig, b * {r} + 1, {r})) as key))"
    )
    return sig.select(
        "id", F.explode(band_keys).alias("bk")
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def _pairs_from_memberships(exploded: DataFrame, max_bucket: int) -> DataFrame:
    """Capped-bucket candidate pair generation from (id, band, key)
    memberships — shared by the one-shot and incremental paths so the
    hot-bucket discipline can never drift between them."""
    # membership is capped BEFORE any aggregation buffers it: row_number
    # over a (band, key) window keeps the max_bucket lowest ids — the
    # window's sort is disk-spillable (UnsafeExternalSorter), so a
    # boilerplate mega-bucket (10^9 members at 10^12 docs) streams
    # through instead of materializing in one collect_list aggregation
    # state (the round-2 OOM path). Round 2's
    # slice(sort_array(collect_list(id)), 1, max_bucket) produced the
    # same ids but only after buffering the WHOLE bucket in memory.
    from pyspark.sql.window import Window

    bw = Window.partitionBy("band", "key")
    capped = (
        exploded
        .withColumn("__rn", F.row_number().over(bw.orderBy("id")))
        .withColumn("bucket_size", F.count("*").over(bw))
        .filter(F.col("__rn") <= max_bucket)
    )
    buckets = (
        capped.groupBy("band", "key")
        .agg(
            F.sort_array(F.collect_list("id")).alias("ids"),  # ≤ max_bucket ids
            F.max("bucket_size").alias("bucket_size"),
        )
        .filter(F.size("ids") > 1)
    )
    pairs = (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (a, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), b -> struct(a as id_a, b as id_b))))"
                )
            ).alias("p"),
            F.col("bucket_size"),
        )
        .select(F.col("p.id_a"), F.col("p.id_b"), "bucket_size")
        # duplicate membership rows for one id (e.g. a crash-replayed
        # index append) would otherwise emit (x, x) self-pairs — they
        # only ever add redundancy, never pairs, so drop them here
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count("*").cast("long").alias("n_bands"),
            F.max("bucket_size").cast("long").alias("max_bucket_size"),
            F.greatest(
                F.max("bucket_size") - F.lit(max_bucket), F.lit(0)
            ).cast("long").alias("max_dropped"),
        )
    )
    return pairs


#: below this corpus size the lazy verify plan wins: the semi-prune's
#: extra joins cost more than just shingling a small corpus.
#: Measured in round 6, after the compute fan-out landed and while the
#: lazy plan still shingled the corpus twice: at 50k docs / 2.6k
#: candidate pairs the pruned plan beat the lazy one by ~2s (5.5 vs
#: 7.7s warm, tools/exp notes in OPTIMIZATION_r06.md), so the
#: crossover sits well below the old 200k estimate; 20k keeps tiny
#: corpora (sf0.001/0.01, unit tests) on the cheaper lazy plan.
AUTO_PRUNE_MIN_CORPUS = 20_000


def jaccard_verify(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.7,
    prune_to_candidates: bool | str = False,
    corpus_n_rows: int | None = None,
) -> DataFrame:
    """Exact shingle-Jaccard on candidate pairs (JVM array set ops);
    keeps pairs ≥ threshold. The default builds a fully LAZY plan
    whose one id→shingle join computes the shingle projection over
    the whole corpus (a cheap JVM pass; AQE broadcasts the small pairs
    side).

    ``prune_to_candidates=True`` is the jobs-path shape for huge
    corpora with few candidates: the pair frame (tiny id pairs) is
    persisted and EAGERLY materialized (one count — otherwise the
    caller's single action executes the candidate pipeline in both
    the candidate-id branch and the verify branch before the cache
    lands, measured ~2×), the corpus is left-semi-pruned to candidate
    ids, and shingles are computed for candidates only: verify cost
    ∝ candidates instead of two corpus passes. Because this
    materializes at CALL time and pins a cache, it is OPT-IN; the
    persisted frame rides on the returned DataFrame as
    ``._candidate_pairs_cache`` so the caller can release it
    deterministically once its own action has run (curate()/the dedup
    job do — round-4 review findings on laziness, cache lifetime and
    thread-safety of the previous module-global holder).

    ``prune_to_candidates="auto"`` (the jobs-path default since round
    5) makes the choice data-driven instead of always-eager (round-4
    verdict task 4): the pair frame is persisted and counted either
    way (that count is the materialization the eager path needed
    anyway), then the corpus is semi-pruned ONLY when it is large
    (``corpus_n_rows`` hint, or a count of ``df``) AND the
    candidate ids are a small minority of it (8·n_pairs ≤ n) — below
    either bound the lazy plan's cheap corpus shingle pass beats the
    prune's extra joins. The prune path shows in the returned
    plan as the corpus ``LeftSemi`` join."""
    extra = ["max_dropped"] if "max_dropped" in pairs.columns else []
    pairs_cache = None
    if prune_to_candidates == "auto":
        from pyspark import StorageLevel

        pairs = pairs_cache = pairs.persist(StorageLevel.MEMORY_AND_DISK)
        n_pairs = pairs.count()
        n = corpus_n_rows if corpus_n_rows is not None else df.count()
        prune_to_candidates = (
            n >= AUTO_PRUNE_MIN_CORPUS and 8 * n_pairs <= n
        )
    if prune_to_candidates:
        from pyspark import StorageLevel

        if pairs_cache is None:
            pairs = pairs_cache = pairs.persist(StorageLevel.MEMORY_AND_DISK)
            pairs.count()
        cid = "__cand_id"
        while cid in df.columns:
            cid = "_" + cid
        cand_ids = (
            pairs.select(F.col("id_a").alias(cid))
            .union(pairs.select(F.col("id_b").alias(cid)))
            .distinct()
        )
        base = df.join(
            cand_ids, F.col(id_col) == F.col(cid), "left_semi"
        )
    else:
        base = df
    # the shingle projection below is interpreted HOF-lambda work (no
    # codegen) — the priciest per-row compute in the funnel; fan out an
    # input that plans fewer partitions than cores before paying it
    # (a measured win, see the rule in fanout.py; round-robin for the
    # same balance as in minhash_band_memberships)
    from inxs_spark.operators.fanout import ensure_compute_fanout

    base = ensure_compute_fanout(base)
    sh = base.select(
        F.col(id_col).alias("id"), shingles(text_col, k).alias("sh")
    )
    # each pair's two ids meet the shingle projection in ONE join (a
    # join per side would plan the projection twice); regrouping by
    # pair lines the two sets up again. The dropped-coverage column
    # (if present) rides through so downstream consumers see where the
    # hot-bucket cap bound
    key = ["id_a", "id_b", *extra]
    ends = pairs.select(*key, F.explode(F.array(
        F.struct(F.lit(True).alias("is_a"), F.col("id_a").alias("id")),
        F.struct(F.lit(False).alias("is_a"), F.col("id_b").alias("id")),
    )).alias("end")).select(*key, "end.is_a", "end.id")
    out = (
        ends.join(sh, "id")
        .groupBy(*key)
        .agg(
            F.max(F.when(F.col("is_a"), F.col("sh"))).alias("sh_a"),
            F.max(F.when(~F.col("is_a"), F.col("sh"))).alias("sh_b"),
        )
        .filter(F.col("sh_a").isNotNull() & F.col("sh_b").isNotNull())
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard", *extra)
    )
    out._candidate_pairs_cache = pairs_cache
    return out


def minhash_dedup_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", threshold: float = 0.7,
                        prune_verify: bool | str = False,
                        corpus_n_rows: int | None = None,
                        **lsh_kwargs) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → exact Jaccard verify.
    ``prune_verify=True`` is the eager jobs-path shape (see
    jaccard_verify): candidate pairs materialize at call time and the
    verify stage touches candidate documents only — callers must
    release ``result._candidate_pairs_cache`` after their action.
    ``prune_verify="auto"`` decides prune-vs-lazy from the candidate
    count and the corpus size (pass ``corpus_n_rows`` when known —
    the jobs already count their input)."""
    cands = minhash_lsh_candidates(df, id_col, text_col, **lsh_kwargs)
    return jaccard_verify(df, cands, id_col, text_col,
                          k=lsh_kwargs.get("k", 3), threshold=threshold,
                          prune_to_candidates=prune_verify,
                          corpus_n_rows=corpus_n_rows)


# ---------------------------------------------------------------------------
# n-gram (word) Jaccard — exact, for oracle-checkable small-scale runs
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    threshold: float = 0.5,
    block_col: str | None = None,
) -> DataFrame:
    """All-pairs word-n-gram Jaccard ≥ threshold, optionally blocked on
    a column (e.g. lang) to bound the join. O(n²) within block — this
    is the EXACT oracle-checkable variant; at scale use minhash_dedup_
    pairs, which approximates the same output."""
    grams = shingles(text_col, n)
    extra = [F.col(block_col).alias("blk")] if block_col else []
    base = df.select(F.col(id_col).alias("id"), grams.alias("grams"), *extra)
    blk = ["blk"] if block_col else []
    a = base.select(F.col("id").alias("id_a"), F.col("grams").alias("g_a"), *blk)
    b = base.select(F.col("id").alias("id_b"), F.col("grams").alias("g_b"), *blk)
    joined = a.join(b, "blk") if block_col else a.crossJoin(b)
    return (
        joined.filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("g_a", "g_b"))
                / F.size(F.array_union("g_a", "g_b")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# near-dup clusters (connected components over pair edges)
# ---------------------------------------------------------------------------

def connected_components(pairs: DataFrame, max_iters: int = 20,
                         metrics_dir: str | None = None) -> DataFrame:
    """Cluster ids over near-dup pair edges: (id, cluster_id) where
    cluster_id = min member id of the connected component.

    Pair-level dedup alone is WRONG at scale: chains (A~B, B~C with
    A≁C) need component semantics to decide what survives. Each round
    does hash-min (take the min label over self + neighbors) FOLLOWED
    BY pointer jumping (label ← label-of-label), so label information
    travels 2^k hops after k rounds → convergence in O(log diameter)
    shuffles, not O(diameter) (union-find path halving, the same trick
    large-star/small-star exploits). Worst case: a 1M-node chain
    converges in ~20 rounds instead of 1M. The starting labels are
    already one hop of hash-min (each node's min over itself and its
    neighbors), so two-member clusters, the common near-dup case,
    converge in the first round.

    Every step runs once. ``pairs`` is read in ONE scan that emits
    both edge directions; the edge set is checkpointed and its count
    (``n_edges``, which also decides the empty case) is the action
    that materializes it, so a lazy ``pairs`` lineage (the verify
    joins) executes exactly once. Each round carries the previous
    label beside the new one and checkpoints with
    ``localCheckpoint(eager=False)``, which cuts the plan lineage
    (without it the join tree doubles per round and Catalyst analysis
    cost explodes by iteration ~10); the round's change count, a
    filter ``old != new`` over that checkpoint, is the one action that
    materializes it. Every checkpoint but the returned one is released
    before returning; release that one with :func:`release_checkpoint`
    once the actions that read it have run. ``metrics_dir`` receives
    one JSON lineage record, ``cc_metrics.json`` (rounds executed,
    n_edges, labels changed in the last round, converged flag), so a
    run can ALARM on non-convergence instead of silently shipping
    under-merged clusters."""
    import logging
    import os

    from ..sources.io import write_json_atomic

    edges = (
        pairs.select(F.explode(F.array(
            F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
            F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
        )).alias("e"))
        .select("e.src", "e.dst")
        .distinct()
        # every round joins against the edges: checkpointed, so no
        # round re-executes the upstream candidate-pair lineage (LSH
        # explode, window cap, verify joins); the count materializes it
        .localCheckpoint(eager=False)
    )
    n_edges = edges.count()
    # the starting labels already take one hash-min hop: grouping the
    # edges by source is the shuffle that lists the nodes anyway
    labels = edges.groupBy("src").agg(F.min("dst").alias("nbr_min")).select(
        F.col("src").alias("id"), F.least("src", "nbr_min").alias("cluster_id")
    )
    # empty edge set (clean corpus / clean batch — the COMMON case in
    # production re-runs): skip the iteration machinery entirely
    if n_edges == 0:
        # built from the schema alone, so it outlives the edges
        labels = labels.sparkSession.createDataFrame([], labels.schema)
        max_iters = 0
    rounds, changed = 0, 0
    previous = None  # the last round's checkpoint, superseded below
    for rounds in range(1, max_iters + 1):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        hashmin = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.col("cluster_id").alias("old"),
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("nbr_min"), F.col("cluster_id")),
                ).alias("hashmin"),
            )
        )
        # pointer jumping: chase one level of indirection — labels now
        # reach 2^round hops, turning chain convergence logarithmic
        parents = hashmin.select(
            F.col("id").alias("p_id"), F.col("hashmin").alias("p_cluster")
        )
        updated = (
            hashmin.join(parents, hashmin.hashmin == parents.p_id, "left")
            .select(
                "id",
                "old",
                F.least(
                    F.col("hashmin"),
                    F.coalesce(F.col("p_cluster"), F.col("hashmin")),
                ).alias("cluster_id"),
            )
            .localCheckpoint(eager=False)
        )
        changed = updated.filter(F.col("old") != F.col("cluster_id")).count()
        labels = updated.select("id", "cluster_id")
        if previous is not None:
            release_checkpoint(previous)
        previous = updated
        if changed == 0:
            break
    converged = changed == 0 and (n_edges == 0 or rounds > 0)
    if not converged:
        logging.getLogger(__name__).warning(
            "connected_components did NOT converge in %d rounds "
            "(%d labels still changing) — clusters may be under-merged; "
            "raise max_iters", rounds, changed,
        )
    if metrics_dir is not None:
        write_json_atomic(os.path.join(metrics_dir, "cc_metrics.json"), [{
            "op": "connected_components",
            "rounds": rounds,
            "n_edges": n_edges,
            "labels_changed_last_round": changed,
            "converged": converged,
        }])
    release_checkpoint(edges)
    return labels


def release_checkpoint(df: DataFrame) -> None:
    """Unpersist the local checkpoints ``df`` reads from. Only for
    frames built directly on ``localCheckpoint()`` results, such as
    the labels :func:`connected_components` returns, and only once
    every action that reads them has run: a released local checkpoint
    cannot be recomputed."""
    leaves = df._jdf.queryExecution().logical().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.nodeName() == "LogicalRDD":
            leaf.rdd().unpersist(False)


def keep_cluster_min(df: DataFrame, clusters: DataFrame,
                     id_col: str = "doc_id") -> DataFrame:
    """``df`` minus every document that is in a cluster of
    :func:`connected_components` but is not its min id."""
    losers = clusters.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    # no broadcast hint: the loser set scales with the duplicate count —
    # AQE broadcasts when it is actually small
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

#: per-worker token→hash memo (the MinHash signature discipline, round
#: 6): natural-language tokens repeat across documents far more than
#: shingles do, so the pure blake2b step caches extremely well; the
#: bound caps memory on high-entropy corpora.
_SIMHASH_MEMO: dict = {}
_SIMHASH_MEMO_MAX = 1_000_000


@F.arrow_udf(LongType())
def _simhash64(texts: pa.Array) -> pa.Array:
    """64-bit SimHash over whitespace tokens — vectorized numpy bit
    count per batch (Arrow transfer; no per-row Python at the API
    level). Python here beats a 64-lambda JVM expression tree.
    Token hashes are memoized per worker and misses fold their digests
    through one big-endian np.frombuffer — byte-identical to the
    per-token int.from_bytes (".big" == ">u8"; the bit-vote sum is
    order-insensitive over the token SET)."""
    import numpy as np

    from hashlib import blake2b

    get = _SIMHASH_MEMO.get
    out = np.zeros(len(texts), dtype=np.int64)
    for i, text in enumerate(texts.to_pylist()):
        if not text:
            continue
        toks = set(text.split(" "))
        vals = []
        miss = []
        for t in toks:
            v = get(t)
            if v is None:
                miss.append(t)
            else:
                vals.append(v)
        if miss:
            buf = b"".join(
                blake2b(t.encode(), digest_size=8).digest() for t in miss
            )
            mv = np.frombuffer(buf, dtype=">u8").tolist()
            _memo_fill(_SIMHASH_MEMO, miss, mv, _SIMHASH_MEMO_MAX)
            vals.extend(mv)
        hashes = np.array(vals, dtype=np.uint64)
        bits = ((hashes[:, None] >> np.arange(64, dtype=np.uint64)) & 1)
        votes = bits.sum(axis=0) * 2 - len(hashes)
        sim = np.uint64(0)
        for b in np.nonzero(votes > 0)[0]:
            sim |= np.uint64(1) << np.uint64(b)
        out[i] = np.int64(sim)
    return pa.array(out)


def simhash(df: DataFrame, id_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
    return df.select(F.col(id_col), _simhash64(F.col(text_col)).alias("simhash"))


def simhash_dup_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", max_hamming: int = 3,
                      n_blocks: int | None = None) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming, via
    Manku-style combined-block LSH keys (Manku/Jain/Das Sarma, WWW'07
    "Detecting Near-Duplicates for Web Crawling" — public algorithm):
    split the 64-bit signature into b > d blocks; two signatures
    within hamming d agree on at least b−d whole blocks (pigeonhole),
    so every combination of q = b−d blocks is one candidate key and
    C(b, q) key tables guarantee 100% recall. Verification is
    JVM-side bit_count(xor).

    Round 2 used q=1 (single-block keys, b = d+1), whose key width
    64/(d+1) collapses at d=8 (~7-bit keys → quasi-quadratic candidate
    volume on random data: 86×n pairs at n=500). Combined keys keep
    width ≈ (b−d)·64/b (~20+ bits at d=8) at the price of C(b, q)
    exploded rows per doc — candidate volume on random corpora drops
    by ~2^(width−old_width)/C(b,q) ≈ 300× at d=8 (test-asserted
    sub-quadratic on a 50k-sig random corpus).

    ``n_blocks`` (explicit) overrides the derived plan; recall is
    guaranteed only when n_blocks > max_hamming (keys then use
    q = n_blocks − max_hamming blocks)."""
    sigs = simhash(df, id_col, text_col).withColumnRenamed(id_col, "id")
    return simhash_pairs_from_sigs(sigs, max_hamming, n_blocks)


#: most q-subset key tables one SimHash block plan may enumerate
SIMHASH_TABLE_CAP = 1024


def derive_simhash_blocks(max_hamming: int, table_cap: int = SIMHASH_TABLE_CAP,
                          max_extra_blocks: int = 16) -> tuple[int, int]:
    """Choose (n_blocks b, key_blocks q = b − max_hamming): the
    smallest b whose worst-case combined-key width (sum of the q
    narrowest blocks) reaches 32 bits subject to C(b, q) ≤ table_cap;
    if no b reaches 32 bits under the cap, the widest-key b wins.
    d=0 → (1, 1): one 64-bit key (exact-signature dedup); d=3 →
    (7, 4): 35 tables of ≥36-bit keys; d=8 → (12, 4): 495 tables of
    ≥20-bit keys."""
    from math import comb

    d = max_hamming
    if not 0 <= d <= 62:
        raise ValueError(f"max_hamming must be in [0, 62], got {d}")
    best: tuple[int, int, int] | None = None  # (width, b, q)
    for b in range(d + 1, min(d + max_extra_blocks, 64) + 1):
        q = b - d
        if comb(b, q) > table_cap:
            continue
        width = _worst_key_width(b, q)
        if width >= 32:
            return b, q
        if best is None or width > best[0]:
            best = (width, b, q)
    if best is None:  # table_cap < b for every b — single-block fallback
        return d + 1, 1
    return best[1], best[2]


def _worst_key_width(n_blocks: int, q: int) -> int:
    """Sum of the q narrowest block widths when 64 bits split into
    n_blocks near-equal blocks."""
    base, extra = divmod(64, n_blocks)
    n_narrow = n_blocks - extra  # blocks of `base` bits
    return q * base + max(0, q - n_narrow)


def _simhash_block_keys(max_hamming: int, n_blocks: int | None):
    """``keyed(sigs)``: (id, simhash) rows → (id, simhash, key) rows,
    one per combined-block key of each signature. 64 bits split into
    ``n_blocks`` near-equal blocks, one key per q-subset of blocks
    (q = n_blocks − max_hamming, at least 1), key = xxhash64(subset
    index, the subset's block values). Equal subsets always collide,
    so two signatures within ``max_hamming`` bits share a key whenever
    n_blocks > max_hamming (pigeonhole); hash collisions only ever ADD
    candidates. ``n_blocks=None`` derives the plan from
    :func:`derive_simhash_blocks`; an out-of-range ``n_blocks``, or one
    whose C(n_blocks, q) exceeds ``SIMHASH_TABLE_CAP``, raises here,
    before any subset or Spark work. The one key builder of both the batch
    and the incremental pair search.

    The subsets explode as an index ``t``, and each key reads its
    blocks' offsets and masks from literal arrays at ``t``: one small
    projection whatever C(b, q) is. An ``array`` of C(b, q) hash calls
    (495 at max_hamming=8) generates a Java method past the 64 KB
    limit, so whole-stage codegen could not compile it."""
    from itertools import combinations
    from math import comb

    if n_blocks is None:
        n_blocks, q = derive_simhash_blocks(max_hamming)
    else:
        if not 1 <= n_blocks <= 64:
            raise ValueError(f"n_blocks must be in [1, 64], got {n_blocks}")
        q = max(n_blocks - max_hamming, 1)
        if comb(n_blocks, q) > SIMHASH_TABLE_CAP:
            raise ValueError(
                f"n_blocks={n_blocks}, max_hamming={max_hamming} needs "
                f"C({n_blocks}, {q}) = {comb(n_blocks, q)} key tables, "
                f"over the cap of {SIMHASH_TABLE_CAP}"
            )
    base, extra = divmod(64, n_blocks)
    widths = [base + (1 if b < extra else 0) for b in range(n_blocks)]
    offsets = [sum(widths[:b]) for b in range(n_blocks)]
    # a full-width block (n_blocks=1) keeps every bit: mask -1, since
    # (1<<64)-1 overflows signed long
    masks = [(1 << w) - 1 if w < 64 else -1 for w in widths]
    combos = list(combinations(range(n_blocks), q))
    at = F.col("t") + 1
    blocks = []
    for j in range(q):  # the j-th block of subset t
        off = F.array(*[F.lit(offsets[c[j]]) for c in combos])
        mask = F.array(*[F.lit(masks[c[j]]).cast("long") for c in combos])
        blocks.append(F.call_function(
            "shiftrightunsigned", F.col("simhash"), F.element_at(off, at)
        ).bitwiseAND(F.element_at(mask, at)))
    subsets = F.explode(F.sequence(F.lit(0), F.lit(len(combos) - 1)))

    def keyed(sigs: DataFrame) -> DataFrame:
        return sigs.select("id", "simhash", subsets.alias("t")).select(
            "id", "simhash", F.xxhash64("t", *blocks).alias("key")
        )

    return keyed


def simhash_candidates(sigs: DataFrame, max_hamming: int,
                       n_blocks: int | None = None) -> DataFrame:
    """Candidate pairs (id_a, id_b, sh_a, sh_b) sharing at least one
    combined-block key — the pre-verification stage, factored out so
    candidate VOLUME (the scale cost) is testable separately from
    recall (keys: :func:`_simhash_block_keys`)."""
    keyed = _simhash_block_keys(max_hamming, n_blocks)(sigs)
    a = keyed.select("key", F.col("id").alias("id_a"),
                     F.col("simhash").alias("sh_a"))
    b = keyed.select("key", F.col("id").alias("id_b"),
                     F.col("simhash").alias("sh_b"))
    return (
        a.join(b, "key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )


def simhash_pairs_from_sigs(sigs: DataFrame, max_hamming: int,
                            n_blocks: int | None = None) -> DataFrame:
    """Blocked pair search over precomputed (id, simhash) rows —
    factored out so recall can be unit-tested on planted signatures."""
    return (
        simhash_candidates(sigs, max_hamming, n_blocks)
        .withColumn("hamming", F.bit_count(F.expr("sh_a ^ sh_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Persisted near-dup indexes — incremental dedup for a GROWING corpus
# (round-5; the ivf_write_index discipline from operators/similarity.py
# applied to MinHash/SimHash: dedup a NEW batch against an existing
# corpus without recomputing the corpus side)
# ---------------------------------------------------------------------------

MINHASH_INDEX_FORMAT = "inxs_spark-minhash-index-v1"
SIMHASH_INDEX_FORMAT = "inxs_spark-simhash-index-v1"


def _write_index_meta(index_dir: str, meta: dict) -> None:
    """Commit ``meta.json`` atomically: an append that dies mid-write
    leaves the previous meta (and so a readable index) in place."""
    import os

    from ..sources.io import write_json_atomic

    write_json_atomic(
        os.path.join(index_dir, "meta.json"), meta, indent=1, sort_keys=True
    )


def _read_index_meta(index_dir: str, expected_format: str) -> dict:
    import json
    import os

    with open(os.path.join(index_dir, "meta.json")) as fh:
        meta = json.load(fh)
    if meta.get("format") != expected_format:
        raise ValueError(
            f"{index_dir} is {meta.get('format')!r}, expected {expected_format!r}"
        )
    return meta


def minhash_write_index(
    df: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 64,
    bands: int = 16,
) -> dict:
    """Materialize the MinHash LSH index for a corpus:

    * ``bands/``  — (id, band, key) memberships, partitioned by band:
      the expensive part (one signature-UDF pass over the corpus
      text), persisted so no future batch ever recomputes it.
    * ``docs/``   — (id, text): the verify side. Exact-Jaccard
      verification of a future candidate needs the OLD document's
      shingles; storing text (smaller than shingle arrays) and
      re-shingling only the candidate-pruned rows keeps incremental
      verify cost ∝ candidates. This roughly doubles corpus storage —
      the explicit price of O(batch) incremental dedup instead of
      O(corpus) per batch.
    * ``meta.json`` — parameters; a batch deduped against the index
      MUST use the same (k, num_perm, bands), enforced on read; the
      shingle mode is recorded as ``SHINGLE_MODE``.

    Returns {n_docs, n_memberships}. Ids must be unique; later
    appended batches must use ids disjoint from the index."""
    memb = minhash_band_memberships(
        df, id_col, text_col, k=k, num_perm=num_perm, bands=bands
    )
    import os

    memb.write.partitionBy("band").mode("overwrite").parquet(
        os.path.join(index_dir, "bands")
    )
    df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    ).write.mode("overwrite").parquet(os.path.join(index_dir, "docs"))
    spark = df.sparkSession
    n_docs = spark.read.parquet(os.path.join(index_dir, "docs")).count()
    n_memb = spark.read.parquet(os.path.join(index_dir, "bands")).count()
    _write_index_meta(index_dir, {
        "format": MINHASH_INDEX_FORMAT,
        "k": k, "num_perm": num_perm, "bands": bands, "mode": SHINGLE_MODE,
        "n_docs": n_docs,
    })
    return {"n_docs": n_docs, "n_memberships": n_memb}


def minhash_dedup_pairs_incremental(
    new_df: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    max_bucket: int | None = None,
    append: bool = True,
    append_tag: str | None = None,
) -> DataFrame:
    """Near-dup pairs of a NEW batch against an indexed corpus —
    new-new AND new-old pairs, each verified by exact shingle Jaccard
    — WITHOUT recomputing the corpus's signatures (the round-4 gap:
    growing-corpus ingestion previously meant a full recompute of the
    corpus side per batch).

    Plan shape: one signature pass over the NEW batch only; the index
    side is pruned to buckets the new batch touches via a semi-join of
    the persisted (band, key) memberships against the new batch's
    DISTINCT keys (band-partitioned parquet, digest-only exchange);
    capped-bucket pair generation is the SHARED `_pairs_from_
    memberships` (identical hot-bucket discipline as the one-shot
    path) over old∪new memberships of touched buckets; pairs must
    involve ≥1 new id; verify re-shingles only candidate docs (new
    rows + semi-pruned index docs). Cost is O(batch + touched
    buckets), never O(corpus).

    Completeness vs a full recompute over the grown corpus: the pair
    sets agree EXACTLY (test-pinned) whenever the hot-bucket cap does
    not bind — pass the same explicit ``max_bucket``; ``None`` derives
    it from the GROWN corpus size (meta n_docs + batch count), like
    the one-shot path at that size. Where the cap binds, a new low-id
    entering a full bucket can evict a higher old id the one-shot run
    would also have evicted — around capped mega-buckets both paths
    are (identically) lossy by design. Old-old pairs are NOT
    re-emitted: they were produced when their batches were indexed.

    ``append=True`` ships the new batch into the index AFTER the pair
    search has materialized (the verify is always the eager, pruned
    one): the index is only ever extended once this batch's pairs
    exist, so a crash mid-run leaves the index untouched and a plain
    rerun is correct — appending first would make the rerun see the
    batch as already-indexed and silently emit none of its pairs. The meta
    update is written last (the commit marker); a crash between the
    parquet appends and the meta write leaves extra membership/doc
    rows that a rerun re-appends — duplicate membership rows only add
    redundant candidates, never lose pairs.

    The index side ALWAYS excludes the batch's own ids (ids are
    unique, so an id already present in the index can only be a prior
    crashed append of this same batch): a replayed batch therefore
    never dedups against its own indexed copy, whether the earlier
    attempt committed fully or partially. ``append_tag`` makes the
    append itself replay-safe: the tag is recorded in meta.json's
    ``appended_tags`` in the SAME atomic write as the n_docs commit,
    and a call whose tag is already recorded skips the appends (the
    pair search still runs and returns correct pairs) — the
    foreachBatch exactly-once ledger (see
    streaming.streaming_minhash_dedup).

    Cache contract, the same in every mode (append, ``append=False``,
    tag replay): the pairs are computed at call time into a
    localCheckpoint, every working cache is released before the call
    returns, and the caller calls ``release_checkpoint(result)`` once
    every action that reads the result has run."""
    import os

    from pyspark import StorageLevel

    meta = _read_index_meta(index_dir, MINHASH_INDEX_FORMAT)
    k, num_perm = meta["k"], meta["num_perm"]
    bands = meta["bands"]
    if meta.get("mode") != SHINGLE_MODE:
        raise ValueError(
            f"{index_dir} shingles by {meta.get('mode')!r}, "
            f"expected {SHINGLE_MODE!r}"
        )
    spark = new_df.sparkSession

    new_memb = minhash_band_memberships(
        new_df, id_col, text_col, k=k, num_perm=num_perm, bands=bands,
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # ONE signature pass: this job populates the cache; every later
    # consumer (key probe, pair search, append write) reads the cache
    n_new = new_memb.select("id").distinct().count()
    if max_bucket is None:
        max_bucket = derive_max_bucket(meta["n_docs"] + n_new)

    # old memberships pruned to buckets the batch touches; the index
    # read is filtered by a digest-only semi-join on (band, key).
    # Read BEFORE any append so the index side never contains the
    # batch (and the file listing is pinned pre-append).
    old_memb = spark.read.parquet(os.path.join(index_dir, "bands"))
    # self-exclusion (see docstring): the batch's own ids never count
    # as index-side matches, so crash-replays are correct by default
    old_memb = old_memb.join(
        new_memb.select("id").distinct(), "id", "left_anti"
    )
    new_keys = new_memb.select("band", "key").distinct()
    touched = old_memb.join(new_keys, ["band", "key"], "left_semi")
    memb = touched.select("id", "band", "key").unionByName(
        new_memb.select("id", "band", "key")
    )
    pairs = _pairs_from_memberships(memb, max_bucket)

    # keep only pairs that involve the new batch (old-old pairs in
    # touched buckets were already emitted by earlier runs)
    new_ids = new_df.select(F.col(id_col).alias("__nid")).distinct()
    pairs = (
        pairs
        .join(new_ids.withColumnRenamed("__nid", "id_a")
              .withColumn("__a_new", F.lit(1)), "id_a", "left")
        .join(new_ids.withColumnRenamed("__nid", "id_b")
              .withColumn("__b_new", F.lit(1)), "id_b", "left")
        .filter(F.col("__a_new").isNotNull() | F.col("__b_new").isNotNull())
        .drop("__a_new", "__b_new")
    )

    # verify corpus: the new batch plus the index docs (old side read
    # pruned to candidate ids by jaccard_verify's semi-join)
    old_docs = spark.read.parquet(os.path.join(index_dir, "docs"))
    # anti-join on batch ids: belt-and-braces against a file-listing
    # refresh picking up this run's own doc append (which would put
    # the batch in the verify corpus twice and duplicate pair rows)
    old_docs = old_docs.join(
        new_memb.select("id").distinct(), "id", "left_anti"
    )
    combined = new_df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    ).unionByName(old_docs)
    verified = jaccard_verify(
        combined, pairs, id_col="id", text_col="text",
        k=k, threshold=threshold, prune_to_candidates=True,
    )
    # fully materialize the VERIFIED pairs (small by construction)
    # before the index grows: the caller's later action re-plans
    # against a REFRESHED parquet listing — candidate caching alone
    # does not shield it (observed as every batch id self-pairing
    # once its own membership append became visible). The checkpoint
    # severs the lineage, so both working caches release in this
    # call, whether or not it appends.
    out = verified.localCheckpoint()
    verified._candidate_pairs_cache.unpersist()
    already_appended = (
        append_tag is not None
        and append_tag in meta.get("appended_tags", [])
    )
    if append and not already_appended:
        new_memb.write.partitionBy("band").mode("append").parquet(
            os.path.join(index_dir, "bands")
        )
        new_df.select(
            F.col(id_col).alias("id"), F.col(text_col).alias("text")
        ).write.mode("append").parquet(os.path.join(index_dir, "docs"))
        # meta last: the commit marker (see docstring failure contract);
        # the n_docs bump and the tag ledger commit in ONE atomic replace
        new_meta = {**meta, "n_docs": meta["n_docs"] + n_new}
        if append_tag is not None:
            new_meta["appended_tags"] = list(
                meta.get("appended_tags", [])
            ) + [append_tag]
        _write_index_meta(index_dir, new_meta)
    new_memb.unpersist()
    return out


def simhash_write_index(
    df: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Materialize the SimHash index: just the (id, simhash) signature
    table (16 bytes/doc) plus meta. Unlike MinHash, the combined-block
    keys are NOT persisted: they are 100s of rows per doc but
    regenerate from the tiny signature table as one JVM projection —
    recomputing beats reading back a 495x-larger key table. Hamming
    verification needs only the signatures, so no text is stored
    either: the whole index is orders of magnitude smaller than the
    corpus."""
    import os

    sigs = simhash(df, id_col, text_col).withColumnRenamed(id_col, "id")
    sigs.write.mode("overwrite").parquet(os.path.join(index_dir, "sigs"))
    n = df.sparkSession.read.parquet(os.path.join(index_dir, "sigs")).count()
    _write_index_meta(index_dir, {
        "format": SIMHASH_INDEX_FORMAT, "n_docs": n,
    })
    return {"n_docs": n}


def simhash_dup_pairs_incremental(
    new_df: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_blocks: int | None = None,
    append: bool = True,
) -> DataFrame:
    """SimHash near-dup pairs of a new batch vs an indexed corpus:
    one signature pass over the batch; the index side regenerates its
    combined-block keys from the persisted signatures and is pruned
    by semi-join to keys the batch emits; pairs must involve ≥1 new
    id. Candidate recall vs a full recompute is EXACT (pigeonhole
    keys are a pure function of the signature, and every new-old /
    new-new key collision involves a new-side key by definition).

    The pair set is materialized (localCheckpoint) BEFORE
    ``append=True`` touches the index — same crash contract as the
    MinHash incremental: the index only grows once this batch's pairs
    exist, and the meta write is the commit marker. Cache contract,
    as there: in either mode the result is a localCheckpoint, the
    batch's signature cache is released before the call returns, and
    the caller calls ``release_checkpoint(result)`` once every action
    that reads the result has run."""
    import os

    from pyspark import StorageLevel

    keyed = _simhash_block_keys(max_hamming, n_blocks)
    meta = _read_index_meta(index_dir, SIMHASH_INDEX_FORMAT)
    spark = new_df.sparkSession
    new_sigs = simhash(new_df, id_col, text_col).withColumnRenamed(
        id_col, "id"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    n_new = new_sigs.count()  # ONE signature pass populates the cache
    # index side read BEFORE any append (listing pinned pre-append)
    old_sigs = spark.read.parquet(os.path.join(index_dir, "sigs"))

    new_keyed = keyed(new_sigs)
    old_keyed = keyed(old_sigs).join(
        new_keyed.select("key").distinct(), "key", "left_semi"
    )
    keyed = new_keyed.unionByName(old_keyed)
    new_ids = new_sigs.select(F.col("id").alias("id_a")).distinct()
    a = new_keyed.select("key", F.col("id").alias("id_a"),
                         F.col("simhash").alias("sh_a"))
    b = keyed.select("key", F.col("id").alias("id_b"),
                     F.col("simhash").alias("sh_b"))
    pairs = (
        a.join(b, "key")
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            F.col("sh_a"), F.col("sh_b"),
        )
        .distinct()
        .withColumn("hamming", F.bit_count(F.expr("sh_a ^ sh_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )
    # materialize the pairs before the index grows (crash safety, see
    # docstring); the pair set is small by construction, and the
    # checkpoint lets the batch-sigs cache release right here
    pairs = pairs.localCheckpoint()
    if append:
        new_sigs.write.mode("append").parquet(
            os.path.join(index_dir, "sigs")
        )
        _write_index_meta(index_dir, {
            **meta, "n_docs": meta["n_docs"] + n_new,
        })
    new_sigs.unpersist()
    return pairs
