"""Streaming extraction: readStream → (per microbatch) the SAME batch
pipeline → append sink; plus event-time windowed aggregation with
watermarked late-data handling.

Design: ``foreachBatch`` reuses :func:`inxs_spark.plans.extract_
pipeline.extract_df` unchanged — the Arrow kernel UDF is the identical
code path to the batch job, so batch/stream parity is structural, not
re-implemented.

Sink semantics: ``foreachBatch`` gives at-least-once REPLAY of a
microbatch after failure, so a blind ``mode('append')`` write would
duplicate rows. Each microbatch therefore overwrites its own
batchId-deterministic partition directory (``batch_id=<id>``) —
replaying batch N rewrites exactly the same directory, making the
file sink effectively exactly-once. In production the same pattern is
an Iceberg ``overwritePartitions`` (or REPLACE WHERE batch_id = N)
transactional commit.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..plans.extract_pipeline import extract_df
from ..sources.transcripts import TRANSCRIPTS_SPARK_SCHEMA


def streaming_extract(
    spark: SparkSession,
    input_path: str,
    out_root: str,
    available_now: bool = True,
    num_partitions: Optional[int] = None,
):
    """Start (and with available_now=True, run to completion) the
    streaming extraction. Returns the StreamingQuery."""
    stream = (
        spark.readStream.schema(TRANSCRIPTS_SPARK_SCHEMA)
        .option("maxFilesPerTrigger", "8")
        .parquet(input_path)
    )
    out_path = os.path.join(out_root, "extracted_stream")
    checkpoint = os.path.join(out_root, "checkpoint")
    _reject_legacy_sink_layout(out_path)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        _write_microbatch(batch_df, out_path, batch_id, num_partitions)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _reject_legacy_sink_layout(out_path: str) -> None:
    """The batch_id=<id> partition-directory sink cannot share an
    out_path with the old flat append-mode sink: root-level parquet
    files mixed with partition directories make Spark's partition
    discovery reject (or inconsistently read) the table. Fail fast
    with a migration message instead (round-2 ADVICE finding)."""
    if not os.path.isdir(out_path):
        return
    root_files = [
        n for n in os.listdir(out_path)
        if n.endswith(".parquet") and os.path.isfile(os.path.join(out_path, n))
    ]
    if root_files:
        raise ValueError(
            f"output path {out_path!r} contains {len(root_files)} root-level "
            "parquet file(s) from a legacy append-mode sink; partition "
            "discovery cannot mix flat files with batch_id=<id> directories. "
            "Start with a fresh out_root, or move the old files into a "
            "batch_id=-1 partition directory first."
        )


def _write_microbatch(
    batch_df: DataFrame,
    out_path: str,
    batch_id: int,
    num_partitions: Optional[int] = None,
) -> None:
    """Idempotent microbatch commit: overwrite the batch's own
    partition directory so a replayed batch rewrites, never appends
    (factored out so replay idempotency is unit-testable)."""
    (
        extract_df(batch_df, num_partitions=num_partitions)
        .write.mode("overwrite")
        .parquet(os.path.join(out_path, f"batch_id={batch_id}"))
    )


def streaming_conversation_sessions(
    spark: SparkSession,
    input_path: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    reader_options: Optional[dict] = None,
) -> DataFrame:
    """Event-time SESSION windows per conversation: a session closes
    after ``gap`` of inactivity (Spark's dynamic-gap state machine, the
    streaming analogue of the batch q_user_sessions lag+sum
    sessionization). Watermark bounds state: sessions older than the
    watermark are finalized and their state evicted — at 10^12 turns
    the state store holds only the open sessions inside the watermark
    horizon, not history. Returns the streaming DataFrame (append
    mode); callers attach a sink."""
    reader = spark.readStream.schema(TRANSCRIPTS_SPARK_SCHEMA)
    for k, v in (reader_options or {}).items():
        reader = reader.option(k, v)
    stream = reader.parquet(input_path)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("conv_id"))
        .agg(
            F.count("*").alias("n_turns"),
            # countDistinct is unsupported on streams; the role set is
            # tiny (3 values) so an exact collect_set is bounded state
            F.size(F.collect_set("role")).alias("n_roles"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "conv_id", "n_turns", "n_roles",
        )
    )


def streaming_exact_dedup(
    spark: SparkSession,
    input_path: str,
    watermark: str = "1 hour",
    reader_options: Optional[dict] = None,
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival of each distinct
    payload within the watermark horizon, via
    ``dropDuplicatesWithinWatermark`` on the 16-byte md5 digest (never
    the payload itself — the dedup state stores digests only).

    State is BOUNDED: a digest's dedup entry is evicted once the
    watermark passes its event time, so at 10^12 turns the store holds
    only the horizon's worth of fingerprints — the streaming analogue
    of the batch exact_dedup, with the standard caveat that a
    duplicate arriving after its original's eviction is kept (exact
    dedup over an unbounded stream needs unbounded state; the
    watermark IS the contract). Returns the streaming DataFrame
    (original columns); callers attach a sink."""
    reader = spark.readStream.schema(TRANSCRIPTS_SPARK_SCHEMA)
    for k, v in (reader_options or {}).items():
        reader = reader.option(k, v)
    stream = reader.parquet(input_path)
    cols = stream.columns
    return (
        stream.withColumn("__fp", F.md5(F.col("text")))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["__fp"])
        .select(*cols)
    )


def streaming_curate(
    spark: SparkSession,
    input_path: str,
    out_root: str,
    min_quality: float = 0.2,
    watermark: str = "1 hour",
    available_now: bool = True,
    num_partitions: Optional[int] = None,
):
    """Streaming ingestion curation — the composed live pipeline:

        turn stream
          → exact dedup within the watermark horizon (digest state,
            BEFORE extraction: duplicate payloads never reach the
            kernel, the same compute lever as extract_df_deduped)
          → per microbatch: main-content extraction → quality gate
          → exactly-once batch_id-partitioned sink

    Returns the started StreamingQuery. State is bounded (dedup
    digests evicted past the watermark); the sink is replay-idempotent
    (each batch overwrites its own partition directory). Each
    microbatch appends one attrition-lineage row (rows_in after the
    streaming dedup → rows_kept past extraction+quality gate) to
    ``out_root/metrics`` — O(1) per batch; call
    ``compact_records(spark, out_root, CURATE_METRICS_SCHEMA)`` once
    after the stream stops to fold them into the queryable
    ``metrics_table`` parquet (the streaming counterpart of the batch
    curate() metrics table, round-3 verdict task 8; recompacting per
    batch would be O(N²) over the stream's life). Both lineage counts
    are observed on the microbatch's one write, so the kernel runs
    once per extracted row and no count action runs."""
    from ..jobs.curate import write_curate_metrics
    from ..operators.text import quality_score_expr

    deduped = streaming_exact_dedup(
        spark, input_path, watermark,
        reader_options={"maxFilesPerTrigger": "8"},
    )
    out_path = os.path.join(out_root, "curated_stream")
    checkpoint = os.path.join(out_root, "checkpoint")
    _reject_legacy_sink_layout(out_path)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # both counts ride the one partition write: rows_in on the
        # microbatch, rows_kept on the gated rows it writes
        obs_in, obs_kept = Observation(), Observation()
        n_rows = F.count(F.lit(1)).alias("n")
        gated = (
            extract_df(batch_df.observe(obs_in, n_rows),
                       num_partitions=num_partitions)
            .filter(F.col("failure").isNull()
                    & (F.length("extracted_text") > 0))
            .withColumn("quality", quality_score_expr("extracted_text"))
            .filter(F.col("quality") >= min_quality)
            .observe(obs_kept, n_rows)
        )
        part_dir = os.path.join(out_path, f"batch_id={batch_id}")
        gated.write.mode("overwrite").parquet(part_dir)
        write_curate_metrics(
            batch_df.sparkSession, out_root,
            {"input": int(obs_in.get["n"]),
             "output": int(obs_kept.get["n"])},
            run_id=f"batch{batch_id}", op="streaming_curate",
            compact=False,
        )

    writer = (
        deduped.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_turn_event_join(
    spark: SparkSession,
    turns_path: str,
    events_path: str,
    events_schema: str,
    max_lag: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """STREAM-STREAM inner join: each turn pairs with the annotation/
    telemetry events of its conversation that occurred within
    ``max_lag`` AFTER the turn (the enrichment shape: moderation
    verdicts, tool telemetry, human labels arriving on their own
    stream).

    Both sides carry watermarks and the join predicate bounds event
    time relative to turn time in BOTH directions — that pair is what
    lets Spark EVICT buffered rows once the watermark passes, so the
    join state is bounded by the lag window, never the stream history
    (the 10^12-turn requirement). Without the time bound, a
    stream-stream join buffers forever; Spark rejects unbounded
    outer variants outright."""
    turns = (
        spark.readStream.schema(TRANSCRIPTS_SPARK_SCHEMA)
        .parquet(turns_path)
        .withWatermark("ts", watermark)
        .select("conv_id", "turn_idx", F.col("ts").alias("turn_ts"))
    )
    events = (
        spark.readStream.schema(events_schema)
        .parquet(events_path)
        .withWatermark("event_ts", watermark)
    )
    return turns.join(
        events,
        F.expr(
            f"conv_id = event_conv_id AND "
            f"event_ts >= turn_ts AND "
            f"event_ts <= turn_ts + interval {max_lag}"
        ),
        "inner",
    ).select("conv_id", "turn_idx", "turn_ts", "event_ts", "event_kind")


def streaming_turn_rates(
    spark: SparkSession,
    input_path: str,
    window: str = "1 minute",
    watermark: str = "2 minutes",
    reader_options: Optional[dict] = None,
) -> DataFrame:
    """Event-time windowed turn counts per role with a watermark for
    late data — the streaming-state surface (window + watermark +
    append mode). Returns the streaming DataFrame; callers attach a
    sink. ``reader_options`` reach the file SOURCE (e.g.
    maxFilesPerTrigger to control microbatch boundaries)."""
    reader = spark.readStream.schema(TRANSCRIPTS_SPARK_SCHEMA)
    for k, v in (reader_options or {}).items():
        reader = reader.option(k, v)
    stream = reader.parquet(input_path)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("role"))
        .agg(F.count("*").alias("n_turns"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "role",
            "n_turns",
        )
    )
