"""Standalone dedup job: the spark-submit entry point for running ONE
dedup method over a document corpus and shipping survivors + evidence.

    python -m inxs_spark.jobs.dedup --input docs.parquet --out /out \
        --method minhash --threshold 0.85

    # growing corpus: dedup each new batch against a persisted index
    # (first call initializes the index from the batch)
    python -m inxs_spark.jobs.dedup --input batch.parquet --out /out \
        --method minhash --incremental /indexes/corpus_minhash

Methods (each one of the repo's tested operators):

- ``exact``    — byte-identical (normalized optional) md5 dedup
- ``minhash``  — MinHash+LSH candidates → exact-Jaccard verify →
                 connected components → keep min id per cluster
- ``simhash``  — Manku combined-block SimHash pairs at --max-hamming →
                 connected components → keep min id per cluster

Outputs under ``--out``:

    survivors/        parquet of surviving rows (original columns)
    pairs/            parquet of the evidence pairs (near-dup methods)
    metrics/ + metrics_table/   attrition lineage rows (same queryable
                      shape as curate()/the extraction runner)

The job prints ONE JSON line with the stage counts, mirroring the
other jobs' contract. All scale behavior is the operators' own
(digest shuffles, banded LSH with capped hot buckets, candidate-pruned
verify, O(log d) connected components).
"""

from __future__ import annotations

import argparse
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F


def _incremental_survivors(batch: DataFrame, clusters: DataFrame,
                           id_col: str) -> DataFrame:
    """Batch survivors against an indexed corpus, given the
    :func:`~inxs_spark.operators.dedup.connected_components` labels of
    the batch's pairs: a batch doc is dropped when its near-dup
    component contains ANY indexed (non-batch) doc — the index always
    wins, regardless of id ordering, because the indexed copy already
    shipped — otherwise the min batch id of each batch-only component
    survives (the same rule keep_cluster_min applies corpus-wide)."""
    bid = batch.select(F.col(id_col).alias("id")).withColumn(
        "__in_batch", F.lit(1)
    )
    lab = clusters.join(bid, "id", "left")
    comp = lab.groupBy("cluster_id").agg(
        F.min(
            F.when(F.col("__in_batch").isNotNull(), F.col("id"))
        ).alias("keep_batch_id"),
        F.max(
            F.when(F.col("__in_batch").isNull(), 1).otherwise(0)
        ).alias("has_old"),
    )
    losers = (
        lab.filter(F.col("__in_batch").isNotNull())
        .join(comp, "cluster_id")
        .filter(
            (F.col("has_old") == 1)
            | (F.col("id") != F.col("keep_batch_id"))
        )
        .select(F.col("id").alias(id_col))
    )
    return batch.join(losers, id_col, "left_anti")


def dedup_job(
    df: DataFrame,
    out_root: str,
    method: str = "minhash",
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.85,
    max_hamming: int = 3,
    normalize: bool = True,
    run_id: str | None = None,
    index_dir: str | None = None,
) -> dict:
    """Run one dedup method end-to-end; returns the stats dict (also
    written to the metrics table and printed by main()).

    ``index_dir`` switches minhash/simhash to INCREMENTAL mode: the
    input is treated as a NEW batch deduped against the persisted
    index (operators.dedup.minhash_write_index and friends) without
    recomputing the corpus side; the batch is appended to the index
    afterwards so the next batch sees it. A missing index is
    initialized from this batch (first-batch bootstrap: one-shot
    dedup within the batch, then the index is written from it). With
    ``normalize`` the index is built over — and must only ever be fed
    — the canonicalized text; metadata enforces the LSH parameters
    but the normalization choice is the caller's to keep stable."""
    from pyspark import StorageLevel

    from ..operators.dedup import (
        connected_components,
        exact_dedup,
        keep_cluster_min,
        minhash_dedup_pairs,
        release_checkpoint,
        simhash_dup_pairs,
    )
    from ..operators.text import normalize_expr
    from .curate import write_curate_metrics

    if method not in ("exact", "minhash", "simhash"):
        raise ValueError(f"unknown method {method!r}")
    if index_dir is not None and method == "exact":
        raise ValueError("incremental mode supports minhash/simhash only")
    if index_dir is not None and not os.path.exists(
        os.path.join(index_dir, "meta.json")
    ):
        # first-batch bootstrap: dedup within the batch one-shot, then
        # seed the index from the batch (survivors AND dropped rows —
        # future batches must match against everything already seen)
        stats = dedup_job(
            df, out_root, method=method, id_col=id_col,
            text_col=text_col, threshold=threshold,
            max_hamming=max_hamming, normalize=normalize, run_id=run_id,
        )
        from ..operators.dedup import (
            minhash_write_index, simhash_write_index,
        )

        seed = df
        dd = text_col
        if normalize:
            dd = "__norm_text"
            seed = df.withColumn(dd, normalize_expr(text_col))
        if method == "minhash":
            minhash_write_index(seed, index_dir, id_col=id_col, text_col=dd)
        else:
            simhash_write_index(seed, index_dir, id_col=id_col, text_col=dd)
        stats["index_initialized"] = True
        return stats
    run_id = run_id or uuid.uuid4().hex[:12]
    t0 = time.monotonic()
    walls: dict[str, float] = {}

    dd_col = text_col
    if normalize:
        dd_col = "__norm_text"
        while dd_col in df.columns:
            dd_col = "_" + dd_col
        df = df.withColumn(dd_col, normalize_expr(text_col))

    # single input scan, same staged-cache discipline as curate()
    caller_cached = df.storageLevel.useMemory or df.storageLevel.useDisk
    c0 = df if caller_cached else df.persist(StorageLevel.MEMORY_AND_DISK)
    stats = {"input": c0.count()}
    walls["input"] = time.monotonic() - t0

    t = time.monotonic()
    clusters = None
    if method == "exact":
        survivors = exact_dedup(c0, id_col, dd_col)
    else:
        if index_dir is not None:
            from ..operators.dedup import (
                minhash_dedup_pairs_incremental,
                simhash_dup_pairs_incremental,
            )

            if method == "minhash":
                pairs = minhash_dedup_pairs_incremental(
                    c0, index_dir, id_col=id_col, text_col=dd_col,
                    threshold=threshold, append=True,
                )
            else:
                pairs = simhash_dup_pairs_incremental(
                    c0, index_dir, id_col=id_col, text_col=dd_col,
                    max_hamming=max_hamming, append=True,
                )
        elif method == "minhash":
            pairs = minhash_dedup_pairs(
                c0, id_col=id_col, text_col=dd_col, threshold=threshold,
                prune_verify="auto", corpus_n_rows=stats["input"],
            )
        else:  # simhash
            pairs = simhash_dup_pairs(
                c0, id_col=id_col, text_col=dd_col, max_hamming=max_hamming
            )
        # write the evidence pairs ONCE, then cluster from the written
        # parquet — re-deriving the pairs for connected components
        # would execute the verify joins a second time (round-4
        # review)
        pairs.write.mode("overwrite").parquet(os.path.join(out_root, "pairs"))
        cache = getattr(pairs, "_candidate_pairs_cache", None)
        if cache is not None:
            cache.unpersist()
        if index_dir is not None:
            release_checkpoint(pairs)
        pairs_read = df.sparkSession.read.parquet(
            os.path.join(out_root, "pairs")
        )
        clusters = connected_components(pairs_read)
        if index_dir is not None:
            survivors = _incremental_survivors(c0, clusters, id_col)
        else:
            survivors = keep_cluster_min(c0, clusters, id_col)
    if normalize:
        survivors = survivors.drop(dd_col)

    obs = Observation()
    survivors.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite"
    ).parquet(os.path.join(out_root, "survivors"))
    if clusters is not None:
        release_checkpoint(clusters)
    stats["output"] = int(obs.get["n"])
    walls["output"] = time.monotonic() - t
    if not caller_cached:
        c0.unpersist()
    write_curate_metrics(
        df.sparkSession, out_root, stats, walls,
        run_id=run_id,
        op=f"dedup_{method}" + ("_incremental" if index_dir else ""),
    )
    return stats


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="inxs_spark.jobs.dedup")
    parser.add_argument("--input", required=True, help="documents parquet path")
    parser.add_argument("--out", required=True)
    parser.add_argument("--method", default="minhash",
                        choices=("exact", "minhash", "simhash"))
    parser.add_argument("--id-col", default="doc_id")
    parser.add_argument("--text-col", default="text")
    parser.add_argument("--threshold", type=float, default=0.85,
                        help="minhash exact-Jaccard verify threshold")
    parser.add_argument("--max-hamming", type=int, default=3,
                        help="simhash hamming radius")
    parser.add_argument("--no-normalize", action="store_true",
                        help="dedup raw bytes instead of canonicalized text")
    parser.add_argument("--incremental", metavar="INDEX_DIR", default=None,
                        help="incremental mode: dedup the input (a NEW "
                             "batch) against the persisted near-dup index "
                             "at INDEX_DIR and append the batch to it; a "
                             "missing index is initialized from this batch")
    parser.add_argument("--master", default="local[*]")
    args = parser.parse_args(argv)

    from ..sources.session import get_spark

    spark: SparkSession = get_spark(master=args.master, app_name="inxs_spark-dedup")
    try:
        df = spark.read.parquet(args.input)
        stats = dedup_job(
            df, args.out, method=args.method,
            id_col=args.id_col, text_col=args.text_col,
            threshold=args.threshold, max_hamming=args.max_hamming,
            normalize=not args.no_normalize,
            index_dir=args.incremental,
        )
        print(json.dumps({
            "output_path": os.path.join(args.out, "survivors"),
            "method": args.method, **stats,
        }))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
