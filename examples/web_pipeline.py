"""Web-archive → training-data pipeline: the round-3 operators
composed the way a crawl-scale corpus build would chain them.

    WARC files ──▶ read_warc (binaryFile + one mapInArrow record split)
               ──▶ content-type gate (non-text flagged, never mojibake)
               ──▶ URL canonicalization → URL-level dedup (keep one page
                   per canonical URL)
               ──▶ main-content extraction (rules kernel, mapInArrow)
               ──▶ line-level boilerplate removal (corpus-frequency
                   blacklist, broadcast anti-join)
               ──▶ quality + language gate (codegen scoring)
               ──▶ deterministic source mixing + train/val/test splits
                   (cross-engine md5 tickets, retry-stable)
               ──▶ parquet partitioned by split + one JSON stats line

Run:  python examples/web_pipeline.py [--out /tmp/web_corpus]

The WARC inputs are synthesized deterministically (no crawl data ships
in this container); every stage is a tested operator from the repo.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/tmp/web_corpus")
    ap.add_argument("--master", default="local[4]")
    ap.add_argument("--pages", type=int, default=96)
    args = ap.parse_args()

    from inxs_spark.operators.text import (
        assign_splits,
        language_id,
        quality_score,
        remove_boilerplate_lines,
        weighted_mix,
    )
    from inxs_spark.operators.urls import canonical_url
    from inxs_spark.plans.extract_pipeline import extract_df
    from inxs_spark.sources.session import get_spark
    from inxs_spark.sources.warc import read_warc, synth_warc_file, warc_to_turns
    from pyspark.sql.window import Window

    spark = get_spark(master=args.master, app_name="web-pipeline")
    stats: dict[str, int] = {}

    # 0. synthesize archives (deterministic; one plain + one gzip)
    warc_dir = os.path.join(args.out, "warc_in")
    os.makedirs(warc_dir, exist_ok=True)
    for seed, compress in ((31, False), (32, True)):
        p = os.path.join(warc_dir, f"s{seed}.warc" + (".gz" if compress else ""))
        if not os.path.exists(p):
            synth_warc_file(p, args.pages // 2, seed=seed, compress=compress)

    # 1. WARC → page rows (content-type gate happens inside the reader)
    pages = read_warc(spark, warc_dir)
    stats["pages_in"] = pages.count()

    # 2. URL-level dedup: keep the lexicographically-first page per
    # canonical URL (fragment/case/port/utm noise collapses)
    w = Window.partitionBy("canon").orderBy("url", "record_idx")
    deduped = (
        pages.withColumn("canon", canonical_url("url"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    stats["pages_after_url_dedup"] = deduped.count()

    # 3. main-content extraction (the one Python stage, Arrow-batched)
    turns = warc_to_turns(deduped.drop("canon"))
    extracted = extract_df(turns, num_partitions=8).filter(
        F.col("failure").isNull() & (F.length("extracted_text") > 0)
    )
    stats["pages_extracted"] = extracted.count()

    # 4. line-level boilerplate removal over the extracted text
    docs = extracted.select(
        F.col("conv_id").alias("url"), F.col("extracted_text").alias("text")
    )
    cleaned = remove_boilerplate_lines(
        docs, id_col="url", text_col="text", min_docs=max(args.pages // 4, 2)
    ).filter(F.col("text") != "")
    stats["pages_after_line_cleanup"] = cleaned.count()

    # 5. quality + language gate (codegen projections)
    q = quality_score(cleaned, "url", "text").select("url", "quality")
    lang = language_id(cleaned, "url", "text").select("url", "lang_pred")
    gated = (
        cleaned.join(q, "url").join(lang, "url")
        .filter(F.col("quality") >= 0.2)
    )
    stats["pages_after_quality_gate"] = gated.count()

    # 6. mixture weights per detected language, then 90/5/5 splits —
    # both decided by retry-stable md5 tickets, not rand()
    mixed = weighted_mix(
        gated, {"en": 1.0, "de": 1.0, "fr": 1.0, "es": 0.5, "und": 0.75},
        key_col="lang_pred", id_col="url",
    )
    final = assign_splits(mixed, id_col="url")
    stats["pages_out"] = final.count()

    out_path = os.path.join(args.out, "corpus")
    final.write.mode("overwrite").partitionBy("split").parquet(out_path)
    print(json.dumps({"output": out_path, **stats}))
    spark.stop()


if __name__ == "__main__":
    main()
