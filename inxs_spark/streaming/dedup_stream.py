"""Streaming near-duplicate dedup against the persisted MinHash index.

The index (operators.dedup.minhash_write_index) becomes the stream's
STATE: unlike store-backed streaming state it is queryable parquet,
survives restarts by construction, and is shared with batch jobs —
a batch backfill and the live stream dedup against the SAME corpus
memory.

Exactly-once reasoning (foreachBatch is at-least-once):

* survivors/pairs sink: batch_id-partitioned overwrite — a replayed
  batch rewrites its own partition, idempotent (the module-wide sink
  contract from extract_stream).
* index append: ``append_tag=f"b{batch_id}"`` — the tag commits in
  the same atomic meta.json replace as the doc-count bump, so a
  replayed COMMITTED batch skips the append entirely.
* a replay after a PARTIAL append (bands written, meta not) re-runs
  correctly because the incremental matcher always excludes the
  batch's own ids from the index side (ids are unique; a present id
  can only be this batch's crashed earlier attempt), and re-appends —
  duplicate membership rows only create redundant candidates, which
  the pair generator's self-pair filter and distinct aggregation
  absorb.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F


def streaming_minhash_dedup(
    spark: SparkSession,
    input_path: str,
    out_root: str,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.85,
    max_files_per_trigger: int = 8,
    available_now: bool = True,
):
    """Start a stream that near-dup-dedups each microbatch of documents
    against (and into) the persisted MinHash index.

    Per microbatch: one signature pass over the batch,
    minhash_dedup_pairs_incremental (digest-only semi-join pruning of
    the index, exact-Jaccard verify, append with the batch ledger
    tag), survivors under the index-wins policy (an indexed near-dup
    always beats the new arrival; batch-internal clusters keep their
    min id), written to ``out_root/survivors/batch_id=N/`` with the
    evidence pairs beside them, plus one O(1) attrition-lineage row.
    The index must exist (bootstrap with minhash_write_index or one
    run of ``jobs.dedup --incremental``). Returns the started
    StreamingQuery."""
    from ..jobs.curate import write_curate_metrics
    from ..jobs.dedup import _incremental_survivors
    from ..operators.dedup import (
        MINHASH_INDEX_FORMAT, _read_index_meta, connected_components,
        minhash_dedup_pairs_incremental, release_checkpoint,
    )

    _read_index_meta(index_dir, MINHASH_INDEX_FORMAT)  # fail fast
    schema = spark.read.parquet(input_path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(input_path)
    )
    surv_root = os.path.join(out_root, "survivors")
    pairs_root = os.path.join(out_root, "pairs")
    checkpoint = os.path.join(out_root, "checkpoint")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        rows_in = batch_df.count()
        if rows_in == 0:
            return
        pairs = minhash_dedup_pairs_incremental(
            batch_df, index_dir, id_col=id_col, text_col=text_col,
            threshold=threshold, append=True,
            append_tag=f"b{batch_id}",
        )
        pairs_dir = os.path.join(pairs_root, f"batch_id={batch_id}")
        pairs.write.mode("overwrite").parquet(pairs_dir)
        release_checkpoint(pairs)
        pairs_read = sess.read.parquet(pairs_dir)
        clusters = connected_components(pairs_read)
        survivors = _incremental_survivors(batch_df, clusters, id_col)
        surv_dir = os.path.join(surv_root, f"batch_id={batch_id}")
        obs_kept = Observation()
        survivors.observe(obs_kept, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(surv_dir)
        release_checkpoint(clusters)
        write_curate_metrics(
            sess, out_root,
            {"input": rows_in, "output": int(obs_kept.get["n"])},
            run_id=f"batch{batch_id}", op="streaming_minhash_dedup",
            compact=False,
        )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
