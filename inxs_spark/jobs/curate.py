"""Corpus-curation pipeline job: the composed training-data flow.

    documents
      → exact dedup            (md5 groups, keep min id)
      → near-dup prune         (MinHash+LSH candidates → exact-Jaccard
                                verify → drop the higher id of each pair)
      → quality + language gate (stopword/punct/length score, lang-ID)
      → PII scrub              (emails, long digit runs)
      → deterministic quota sample per language (optional)
      → parquet + one JSON stats line + queryable metrics table

Every stage is one of the repo's tested operators; this job is the
composition a 100 TB curation run would ship. Stage plan notes:
dedup/minhash shuffle digests and signatures (never full text twice),
the near-dup drop is an anti-join of the loser-id set, the quality
gate is a codegen projection, quota sampling is a hash-ordered window.
Dropped rows are COUNTED per stage (no silent attrition — the stats
line and the metrics table are the lineage record).

Stage widths come from the session (``sources.session.get_spark``):
AQE coalesces each shuffle to about one partition per core, however
few bytes it moves, and a cache built on a shuffle is coalesced the
same way. So the final gate/scrub write and the LSH bucket stage run
on about cores tasks (under Spark's 1 MB coalescing floor each ran on
one), and the MinHash UDF over the ``after_exact_dedup`` cache runs
on about cores Python tasks, not on 32. The input cache keeps the
scan's splits: a one-row-group file is one task. Every Spark job of a call
carries the job description ``curate/<stage>`` (input, exact_dedup,
near_dup, output), so an event log attributes each job to its stage
(``tools/stage_report.py``); the caller's description is restored on
return.

SINGLE-PASS LINEAGE: every stage computes exactly once and the input
is scanned exactly once (test-asserted via a row-tap accumulator).
A frame is persisted (MEMORY_AND_DISK) only when two actions read it:
the input and ``after_exact_dedup``, whose counts size the LSH step.
The last three stage counts ride ``DataFrame.observe`` on the one
final action: the ``out=`` write, or with ``out=None`` one count that
leaves the final frame cached for the caller's action (release it
with ``spark.catalog.clearCache()`` in library use). At petabyte
scale the persisted boundaries would be checkpoint TABLES rather
than caches — the staging seam is this function.

Local smoke:

    python -m inxs_spark.jobs.curate --input /root/testdata/sf0.01/documents.parquet \
        --out /tmp/curated --quota 50
"""

from __future__ import annotations

import argparse
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..sources.io import compact_records, write_json_atomic

#: stage names in pipeline order — shared by stats, the metrics table
#: and the tests
CURATE_STAGES = (
    "input",
    "after_exact_dedup",
    "after_near_dup_prune",
    "after_quality_lang_gate",
    "output",
)

CURATE_METRICS_SCHEMA = (
    "op string, run_id string, stage string, stage_idx int, "
    "rows bigint, rows_dropped bigint, wall_s double"
)


def curate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.85,
    min_quality: float = 0.3,
    quality_model=None,
    langs: tuple[str, ...] | None = None,
    quota_per_lang: int | None = None,
    normalize: bool = True,
    out: str | None = None,
    metrics_out: str | None = None,
    run_id: str | None = None,
) -> tuple[DataFrame, dict]:
    """Run the curation flow; returns (curated_df, stage_counts).

    ``normalize=True`` (default) runs both dedup stages over the
    CANONICALIZED text (NFC + casefold + whitespace collapse) so that
    byte-level noise can't defeat fingerprinting — mixed-case or
    unicode-variant duplicates collapse; the surviving rows keep their
    ORIGINAL text.

    ``quality_model=`` (an ``operators.classify.QualityClassifier``)
    swaps the heuristic quality gate for the trained model's
    probability — ``min_quality`` then thresholds P(good) instead of
    the blended heuristic score. Still a pure column expression, so
    the gate stays a codegen projection either way; defaults are
    unchanged (the curation-parity oracle pins the heuristic path).

    ``out=`` writes the curated parquet here and releases every cache
    before returning. ``metrics_out=`` additionally writes the
    per-stage attrition lineage as a QUERYABLE parquet metrics table
    (as the extraction runner does) plus one JSON line per stage under
    ``<metrics_out>/metrics/``."""
    from pyspark import StorageLevel

    from ..operators.dedup import (
        connected_components,
        derive_max_bucket,
        exact_dedup,
        keep_cluster_min,
        minhash_dedup_pairs,
        release_checkpoint,
    )
    from ..operators.text import (
        language_id_expr,
        normalize_expr,
        pii_scrub_expr,
        quality_score_expr,
    )

    lvl = StorageLevel.MEMORY_AND_DISK
    t0 = time.monotonic()
    walls: dict[str, float] = {}
    stats: dict[str, int] = {}

    dd_col = text_col
    if normalize:
        # helper-column name guaranteed absent from df.columns —
        # withColumn silently REPLACES an existing column, so a caller
        # frame that already had one named '__norm_text' would be
        # corrupted (round-3 advice finding)
        dd_col = "__norm_text"
        while dd_col in df.columns:
            dd_col = "_" + dd_col
        df = df.withColumn(dd_col, normalize_expr(text_col))

    # each stage's Spark jobs carry the description "curate/<stage>" so
    # an event log attributes them; the caller's description comes back
    # on return
    sc = df.sparkSession.sparkContext
    caller_desc = sc.getLocalProperty("spark.job.description")
    try:
        # stage 0: the ONLY input scan — everything downstream reads this
        # cache (exact_dedup alone consumes it twice: digest groups + join
        # back). If the CALLER already persisted this exact frame
        # (normalize=False passes it through unchanged), do NOT
        # persist/unpersist it here: our unpersist would silently evict
        # the caller's cache entry (round-4 review finding)
        sc.setJobDescription("curate/input")
        caller_cached = df.storageLevel.useMemory or df.storageLevel.useDisk
        c0 = df if caller_cached else df.persist(lvl)
        stats["input"] = c0.count()
        walls["input"] = time.monotonic() - t0

        sc.setJobDescription("curate/exact_dedup")
        t = time.monotonic()
        deduped = exact_dedup(c0, id_col, dd_col).persist(lvl)
        stats["after_exact_dedup"] = deduped.count()
        walls["after_exact_dedup"] = time.monotonic() - t
        if not caller_cached:
            c0.unpersist()

        sc.setJobDescription("curate/near_dup")
        t = time.monotonic()
        # prune_verify="auto": the candidate pairs are cached and counted,
        # and the verify touches candidate docs only once the corpus is
        # large. The hot-bucket cap comes from the count this stage
        # already took, so the LSH step runs no corpus count of its own.
        pairs = minhash_dedup_pairs(
            deduped, id_col=id_col, text_col=dd_col,
            threshold=jaccard_threshold, prune_verify="auto",
            corpus_n_rows=stats["after_exact_dedup"],
            max_bucket=derive_max_bucket(stats["after_exact_dedup"]),
        )
        # component-correct: keep the min id of every CONNECTED near-dup
        # cluster (pairwise loser-dropping over-deletes on chains A~B~C).
        # connected_components scans the verified pairs once, inside the
        # call: its edge count materializes the edge checkpoint, so the
        # verify runs exactly once and reads the deduped CACHE, not the
        # input. That checkpoint was the candidate cache's only reader.
        clusters = connected_components(pairs)
        if getattr(pairs, "_candidate_pairs_cache", None) is not None:
            pairs._candidate_pairs_cache.unpersist()
        walls["after_near_dup_prune"] = time.monotonic() - t

        # the last three stages run no action of their own (so the gate's
        # wall_s is 0.0): each is counted by an Observation that the final
        # action fills
        obs = {s: Observation() for s in CURATE_STAGES[2:]}
        n_rows = F.count(F.lit(1)).alias("n")
        pruned = keep_cluster_min(deduped, clusters, id_col)
        if normalize:
            pruned = pruned.drop(dd_col)
        pruned = pruned.observe(obs["after_near_dup_prune"], n_rows)

        # quality, language and the scrub are column expressions attached
        # with withColumn, never a join of the frame to its own projection
        # (at 2.4M docs each such join was a full shuffle of the text)
        q_expr = (
            quality_model.score_expr(text_col)
            if quality_model is not None else quality_score_expr(text_col)
        )
        gated = (
            pruned.withColumn("quality", q_expr)
            .withColumn("lang_pred", language_id_expr(text_col))
            .filter(F.col("quality") >= min_quality)
        )
        if langs:
            gated = gated.filter(F.col("lang_pred").isin(list(langs)))
        gated = gated.observe(obs["after_quality_lang_gate"], n_rows)

        scrubbed = gated.withColumn(text_col, pii_scrub_expr(text_col))
        if quota_per_lang is not None:
            # shared keyed-quota primitive — same md5-hash-order selection
            # rule as the per-domain quota (one definition, no drift)
            from ..operators.text import deterministic_quota

            scrubbed = deterministic_quota(
                scrubbed, "lang_pred", id_col, quota_per_lang
            )
        scrubbed = scrubbed.observe(obs["output"], n_rows)

        # the final action: the write, or one count that leaves the frame
        # cached so the caller's action reads the cache
        sc.setJobDescription("curate/output")
        t = time.monotonic()
        if out is not None:
            scrubbed.write.mode("overwrite").parquet(out)
        else:
            scrubbed = scrubbed.persist(lvl)
            scrubbed.count()
        walls["output"] = time.monotonic() - t
        stats.update((s, int(o.get["n"])) for s, o in obs.items())
        release_checkpoint(clusters)
        deduped.unpersist()

        if metrics_out is not None:
            write_curate_metrics(
                df.sparkSession, metrics_out, stats, walls,
                run_id=run_id or uuid.uuid4().hex[:12],
            )
    finally:
        sc.setLocalProperty("spark.job.description", caller_desc)
    return scrubbed, stats


def write_curate_metrics(
    spark: SparkSession,
    metrics_out: str,
    stats: dict,
    walls: dict | None = None,
    run_id: str = "local",
    op: str = "curate",
    compact: bool = True,
) -> None:
    """Persist per-stage attrition lineage: one JSON line per stage
    in ``<metrics_out>/metrics/<op>_<run_id>.json`` (written with
    :func:`~inxs_spark.sources.io.write_json_atomic` — same contract as
    the extraction runner's per-partition records; like the runner, a
    DRIVER-LOCAL directory standing in for the metrics Iceberg table
    append of the production design) and, when ``compact=True``, the
    compacted ``<metrics_out>/metrics_table`` parquet — so a
    production curation run's funnel is queryable next to the
    extraction lineage instead of living only in a returned dict.
    Per-record callers on a long stream should pass ``compact=False``
    (appending is O(1) per call) and compact once at the end with
    ``compact_records(spark, metrics_out, CURATE_METRICS_SCHEMA)`` —
    recompacting every call would re-read every prior record, O(N²)
    over a stream's lifetime (round-4 review finding).

    A stage's ``wall_s`` is the wall time of the Spark actions run in
    it: for :func:`curate`, ``after_near_dup_prune`` ends when
    connected components returns, ``after_quality_lang_gate`` is 0.0,
    and ``output`` (the final action) also computes the gate and scrub."""
    walls = walls or {}
    stages = [s for s in CURATE_STAGES if s in stats]
    rows = []
    prev = None
    for i, s in enumerate(stages):
        n = int(stats[s])
        rows.append({
            "op": op,
            "run_id": run_id,
            "stage": s,
            "stage_idx": i,
            "rows": n,
            "rows_dropped": (prev - n) if prev is not None else 0,
            "wall_s": round(float(walls.get(s, 0.0)), 3),
        })
        prev = n
    write_json_atomic(
        os.path.join(metrics_out, "metrics", f"{op}_{run_id}.json"), rows
    )
    if compact:
        compact_records(spark, metrics_out, CURATE_METRICS_SCHEMA)


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="inxs_spark.jobs.curate")
    parser.add_argument("--input", required=True, help="documents parquet path")
    parser.add_argument("--out", required=True)
    parser.add_argument("--master", default="local[*]")
    parser.add_argument("--jaccard", type=float, default=0.85)
    parser.add_argument("--min-quality", type=float, default=0.3)
    parser.add_argument("--classifier-json", default=None,
                        help="trained QualityClassifier JSON; the quality "
                             "gate then thresholds its P(good)")
    parser.add_argument("--langs", default=None,
                        help="comma-separated language allowlist")
    parser.add_argument("--quota", type=int, default=None,
                        help="max docs per language (deterministic)")
    args = parser.parse_args(argv)

    from ..sources.session import get_spark

    spark: SparkSession = get_spark(master=args.master, app_name="inxs_spark-curate")
    try:
        df = spark.read.parquet(args.input)
        out_dir = os.path.join(args.out, "curated")
        model = None
        if args.classifier_json:
            from ..operators.classify import QualityClassifier

            with open(args.classifier_json) as fh:
                model = QualityClassifier.from_json(fh.read())
        _curated, stats = curate(
            df,
            jaccard_threshold=args.jaccard,
            min_quality=args.min_quality,
            quality_model=model,
            langs=tuple(args.langs.split(",")) if args.langs else None,
            quota_per_lang=args.quota,
            out=out_dir,
            metrics_out=args.out,
        )
        print(json.dumps({"output_path": out_dir, **stats}))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
