"""SFT dataset-assembly job: raw agent transcripts → training examples.

    transcripts (conv_id, turn_idx, role, text, tool, ts)
      → main-content extraction      (the rules kernel, one Arrow hop)
      → degenerate-loop drop         (optional: conversations whose
                                      agent re-invoked one tool
                                      >= min_run times in a row)
      → SFT context-window assembly  (one example per assistant turn,
                                      history = maximal prior suffix
                                      under the token budget; budget
                                      in whitespace tokens or, with
                                      --tokenizer-json, trained-BPE
                                      subword tokens)
      → parquet + one JSON stats line

This is the composed job a training-data team would ship for the
"turn a 10^12-turn transcript lake into an SFT dataset" flow; every
stage is one of the repo's tested operators. Stage shapes: extraction
is the scan-direct mapInArrow pipeline (plans/
extract_pipeline.py), the loop drop is a left_anti join on a
conv-id set produced by one window pass, the assembly is two windows
+ one conv-keyed equi-join (operators/conversations.py). Stage
boundaries persist (MEMORY_AND_DISK) following the curate() single-
pass discipline — the input is scanned once for extraction and once
for the role join-back/loop scan, never per stage count.

Local smoke:

    python -m inxs_spark.jobs.sft --tier tiny --out /tmp/sft --budget 64
"""

from __future__ import annotations

import argparse
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F


def assemble_sft_dataset(
    turns: DataFrame,
    budget: int,
    tokenizer=None,
    drop_loops_min_run: int | None = None,
    target_role: str = "assistant",
    out: str | None = None,
) -> tuple[DataFrame, dict]:
    """The library seam under the CLI: returns (examples, stats).

    ``turns`` must carry (conv_id, turn_idx, role, text); ``tool`` is
    required only when ``drop_loops_min_run`` is set. When ``out`` is
    given the examples are written there and every cache released;
    otherwise the returned frame stays persisted for the caller's
    action (release with ``spark.catalog.clearCache()`` in library
    use — the curate() contract).

    TWO actions total, however many stages: per-stage lineage counts
    ride ``DataFrame.observe`` (CollectMetrics inside the SAME job)
    instead of separate count() actions. The first version of this job
    ran FIVE actions — each a full pipeline barrier plus scheduling —
    and its scaling capture showed the serialization (BENCH.md,
    2026-08-17 captures); the curate() funnel genuinely needs its
    boundaries (each stage feeds the next with different keys), but
    this job's stages are one linear plan, so barrier-per-stage was
    pure Amdahl overhead. The one persist that remains is ``ex``
    (consumed twice inside assemble_sft_examples: the index windows
    and the history join-back)."""
    from pyspark.sql import Observation

    from ..operators.conversations import assemble_sft_examples
    from ..plans.extract_pipeline import extract_df

    from pyspark.storagelevel import StorageLevel

    lvl = StorageLevel.MEMORY_AND_DISK
    stats: dict = {}
    walls: dict = {}

    t0 = time.monotonic()
    obs_extract = Observation()
    # role rides the Arrow batch through the kernel hop (extraction is
    # 1:1 per turn) — the first version equi-joined the role plane
    # back afterwards, two more full-corpus shuffles for one column
    ex = extract_df(turns, passthrough_cols=("role",)).observe(
        obs_extract,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("failure").isNotNull().cast("long")).alias("f"),
    )

    obs_loops = None
    if drop_loops_min_run is not None:
        from ..operators.trajectories import detect_tool_loops

        obs_loops = Observation()
        loop_convs = (
            detect_tool_loops(turns, min_run=drop_loops_min_run)
            .select("conv_id")
            .distinct()
            .observe(obs_loops, F.count(F.lit(1)).alias("n"))
        )
        ex = ex.join(loop_convs, "conv_id", "left_anti")
    ex = ex.persist(lvl)
    # ACTION 1: materializes extraction + role join + loop drop into
    # the ex cache; the observations above fill the stage stats
    stats["turns_after_loop_drop"] = ex.count()
    stats["input_turns"] = stats["extracted_turns"] = int(obs_extract.get["n"])
    stats["extraction_failures"] = int(obs_extract.get["f"] or 0)
    stats["convs_dropped_as_loops"] = (
        int(obs_loops.get["n"]) if obs_loops is not None else 0
    )
    walls["extract_and_filter"] = time.monotonic() - t0

    t0 = time.monotonic()
    obs_out = Observation()
    examples = assemble_sft_examples(
        ex,
        budget,
        text_col="extracted_text",
        target_role=target_role,
        tokenizer=tokenizer,
    ).observe(
        obs_out,
        F.count(F.lit(1)).alias("n"),
        F.sum("history_tokens").alias("h"),
        F.sum("target_tokens").alias("t"),
        F.round(F.avg("n_history_turns"), 3).alias("a"),
    )

    # ACTION 2: the write (or, in library use, one count that leaves
    # the frame cached for the caller) — example stats observed inline
    if out is not None:
        examples.write.mode("overwrite").parquet(out)
    else:
        examples = examples.persist(lvl)
        examples.count()
    stats["examples"] = int(obs_out.get["n"])
    stats["sum_history_tokens"] = int(obs_out.get["h"] or 0)
    stats["sum_target_tokens"] = int(obs_out.get["t"] or 0)
    stats["avg_history_turns"] = float(obs_out.get["a"] or 0.0)
    ex.unpersist()
    walls["assemble_and_write" if out is not None else "assemble"] = (
        time.monotonic() - t0
    )

    stats["budget"] = budget
    stats["token_unit"] = "bpe" if tokenizer is not None else "whitespace"
    stats["stage_walls_s"] = {k: round(v, 3) for k, v in walls.items()}
    return examples, stats


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="inxs_spark.jobs.sft")
    src = parser.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="transcripts parquet path")
    src.add_argument("--tier", help="synthetic tier name (tiny/small/...)")
    parser.add_argument("--out", required=True)
    parser.add_argument("--master", default="local[*]")
    parser.add_argument("--budget", type=int, default=512,
                        help="max history tokens per example")
    parser.add_argument("--tokenizer-json", default=None,
                        help="frozen bpe.json — budget in subword tokens")
    parser.add_argument("--drop-loops", type=int, default=None, metavar="N",
                        help="drop conversations with >= N consecutive "
                             "same-tool calls")
    parser.add_argument("--target-role", default="assistant")
    args = parser.parse_args(argv)

    from ..sources.session import get_spark

    spark: SparkSession = get_spark(master=args.master, app_name="inxs_spark-sft")
    try:
        if args.input:
            turns = spark.read.parquet(args.input)
        else:
            from ..sources.transcripts import ensure_transcripts

            turns = spark.read.parquet(ensure_transcripts(spark, args.tier))
        tokenizer = None
        if args.tokenizer_json:
            from ..operators.tokenizer import BpeTokenizer

            tokenizer = BpeTokenizer.load(args.tokenizer_json)
        _, stats = assemble_sft_dataset(
            turns,
            budget=args.budget,
            tokenizer=tokenizer,
            drop_loops_min_run=args.drop_loops,
            target_role=args.target_role,
            out=os.path.join(args.out, "sft_examples"),
        )
        stats["output"] = os.path.join(args.out, "sft_examples")
        print(json.dumps(stats))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
