"""Production job entry: resumable extraction via spark-submit.

Cluster (BASELINE.json:14):

    python tools/package.py   # builds dist/inxs_spark.zip
    spark-submit --py-files dist/inxs_spark.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.adaptive.coalescePartitions.minPartitionSize=1b \
        --conf spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true \
        --conf spark.sql.execution.arrow.maxRecordsPerBatch=4096 \
        inxs_spark/jobs/extract.py \
        --input <iceberg-table-or-parquet-path> --output <out_root> \
        --chunks 256

Local smoke:

    python -m inxs_spark.jobs.extract --tier tiny --out /tmp/extract_out

Rerunning with the same --output resumes: a chunk (a group of input
files) whose manifest matches its files' (path, size, mtime_ns)
fingerprint is skipped; new or changed chunks are recomputed, and
chunks whose files are all gone are deleted (exact resume,
BASELINE.json:6/14; see ``inxs_spark.plans.runner``).
"""

from __future__ import annotations

import argparse
import json


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="inxs_spark.jobs.extract")
    parser.add_argument("--input", default=None, help="transcripts parquet path")
    parser.add_argument(
        "--tier", default=None, choices=("tiny", "small", "bench"),
        help="use the synthetic tier instead of --input",
    )
    parser.add_argument("--out", required=True, help="output root directory")
    parser.add_argument("--master", default=None, help="spark master (default local[*])")
    parser.add_argument("--chunks", type=int, default=8)
    parser.add_argument(
        "--partitions", type=int, default=None,
        help="hash-repartition each group to N kernel tasks "
        "(default: the scan's own splits, or one task per core for a "
        "group with fewer splits than cores)",
    )
    parser.add_argument("--run-id", default=None)
    args = parser.parse_args(argv)

    from inxs_spark.plans.runner import run_extraction
    from inxs_spark.sources.session import get_spark
    from inxs_spark.sources.transcripts import ensure_transcripts

    spark = get_spark(master=args.master, app_name="inxs_spark-extract")
    try:
        input_path = args.input or ensure_transcripts(spark, args.tier or "tiny")
        summary = run_extraction(
            spark,
            input_path,
            args.out,
            chunks=args.chunks,
            num_partitions=args.partitions,
            run_id=args.run_id,
        )
        print(json.dumps(summary))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
