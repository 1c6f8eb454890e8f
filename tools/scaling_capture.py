"""Standalone scaling-pair capture for one job (the BENCH scaling
evidence, without the rest of the suite).

Runs the job at local[N] and local[4N], interleaved, min-of-reps, with
a per-rep loadavg gate, plus the raw-multiprocessing box ceiling —
exactly the bench.py methodology — and appends the result to BENCH.md.
Jobs:

- ``extract``: the extraction job over the 2.4M-turn "scale" tier.
- ``curate``: the composed curate() funnel (round-4 verdict task 5:
  minhash exchanges, connected components and staged persists scale
  differently from extraction) over (doc_id, text) rows derived from
  the scale tier (doc_id = xxhash64(conv_id, turn_idx); collision
  odds ~1e-7 at this size), capped at --rows (default 250k).
- ``sft``: the SFT assembly job (extraction → loop drop → context-window
  assembly: one Arrow hop, two conv-keyed window passes, two
  equi-joins) over the first --rows scale-tier turns (default 600k).

Capped inputs are cached once per --rows value under .data/, spread
over 64 files so the timed runs' scan parallelism is the session's,
not the file layout's. Use this to grab a clean measurement in a
low-load window on a shared box:

    python tools/scaling_capture.py --job extract|curate|sft \
        [--reps 2] [--n N] [--rows R] [--max-load 1.5]

--n defaults to max(1, nproc // 4), so local[4N] never runs more
workers than the box has cores. Exits nonzero without running if the
1-minute load average exceeds --max-load (co-tenant noise would
corrupt the measurement).
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402  (reuses build_session/wait_for_quiet/raw_ceiling)


def _scale_tier(spark, _rows):
    from inxs_spark.sources.transcripts import ensure_transcripts

    return ensure_transcripts(spark, "scale")


def _capped(cache_name, as_docs):
    """Input step: materialize (once) the first ``rows`` scale-tier
    turns, as (doc_id, text) documents when ``as_docs``."""

    def build(spark, rows):
        from pyspark.sql import functions as F

        path = os.path.join(ROOT, ".data", f"{cache_name}_{rows}")
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            return path
        df = spark.read.parquet(_scale_tier(spark, rows))
        if as_docs:
            df = df.filter(F.col("text").isNotNull() & (F.col("text") != ""))
        df = df.limit(rows)
        if as_docs:
            df = df.select(
                F.xxhash64("conv_id", "turn_idx").alias("doc_id"), "text"
            )
        # limit() collapses to ONE partition; written as-is that is a
        # single-row-group file capping every timed scan at parallelism
        # ~1, which would flatten the very curve this tool measures
        df.repartition(64).write.mode("overwrite").parquet(path)
        return path

    return build


def _run_extract(spark, path, _out):
    from pyspark.sql import functions as F

    from inxs_spark.plans.extract_pipeline import extract_df

    extract_df(spark.read.parquet(path)).agg(F.count("*")).collect()
    return None


def _run_curate(spark, path, out):
    from inxs_spark.jobs.curate import curate

    return curate(
        spark.read.parquet(path), jaccard_threshold=0.85, min_quality=0.0,
        out=out,
    )[1]


def _run_sft(spark, path, out):
    from inxs_spark.jobs.sft import assemble_sft_dataset

    return assemble_sft_dataset(
        spark.read.parquet(path), budget=64, drop_loops_min_run=3, out=out,
    )[1]


#: per job: input step, default --rows, timed run (returns its stats
#: or None), row unit, whether it runs the kernel (so reps warm the
#: Python workers first), and how the result is labelled
JOBS = {
    "extract": dict(
        build=_scale_tier, rows=None, run=_run_extract, unit="turns",
        kernel=True, stats_key=None, heading="scaling capture",
        metric="scaling capture (extraction only, scale tier)",
    ),
    "curate": dict(
        build=_capped("curate_docs_scale", as_docs=True), rows=250_000,
        run=_run_curate, unit="docs", kernel=False,
        stats_key="funnel_stages", heading="curation scaling capture",
        metric="scaling capture (composed curation funnel, scale-tier docs)",
    ),
    "sft": dict(
        build=_capped("sft_turns_scale", as_docs=False), rows=600_000,
        run=_run_sft, unit="turns", kernel=True, stats_key="job_stats",
        heading="SFT-assembly scaling capture",
        metric="scaling capture (composed SFT assembly job, scale-tier turns)",
    ),
}


def timed(job, spark, path):
    """(wall seconds, stats) of one run; any output goes to a throwaway
    dir (the write is part of the job's contract and in the wall)."""
    out = tempfile.mkdtemp(prefix="scaling_capture_")
    try:
        t0 = time.monotonic()
        stats = job["run"](spark, path, os.path.join(out, "result"))
        return time.monotonic() - t0, stats
    finally:
        shutil.rmtree(out, ignore_errors=True)


def main() -> int:
    nproc = len(os.sched_getaffinity(0))
    ap = argparse.ArgumentParser()
    ap.add_argument("--job", choices=sorted(JOBS), required=True)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--n", type=int, default=max(1, nproc // 4))
    ap.add_argument("--rows", type=int, default=None,
                    help="input row cap (curate, sft); default per job")
    ap.add_argument("--max-load", type=float, default=1.5)
    args = ap.parse_args()
    job = JOBS[args.job]

    load = os.getloadavg()[0]
    if load > args.max_load:
        print(json.dumps({"skipped": True, "loadavg_1m": load}))
        return 1

    from pyspark.sql import functions as F

    boot = bench.build_session(nproc)
    path = job["build"](boot, args.rows or job["rows"])
    n_rows = boot.read.parquet(path).count()
    # page-cache warm: parquet count() reads only footers; without a
    # full-payload pass the first timed rep pays the cold disk read, a
    # cost that belongs to neither parallelism level
    boot.read.parquet(path).agg(F.sum(F.length("text"))).collect()
    boot.stop()

    n_low, n_high = args.n, args.n * 4
    walls: dict[int, list[float]] = {n_low: [], n_high: []}
    loads: list[float] = []
    stats = None
    for _rep in range(args.reps):
        for cores in (n_low, n_high):
            # per-REP loadavg gate: the entry gate alone let co-tenant
            # spikes land mid-run (BENCH.md 2026-08-17 captures)
            bench.wait_for_quiet(args.max_load + 1.5, 120)
            spark = bench.build_session(cores)
            if job["kernel"]:
                from inxs_spark.plans.extract_pipeline import extract_df

                # num_partitions=cores: limit() leaves one partition, and
                # the warm-up must start one Python worker per core
                extract_df(
                    spark.read.parquet(path).limit(20000),
                    num_partitions=cores,
                ).agg(F.count("*")).collect()
            loads.append(round(os.getloadavg()[0], 2))
            wall, stats = timed(job, spark, path)
            walls[cores].append(wall)
            spark.stop()
    t_low, t_high = min(walls[n_low]), min(walls[n_high])
    eff = (t_low / t_high) / (n_high / n_low)
    ceiling = bench.raw_ceiling(n_low, n_high)
    unit = job["unit"]
    out = {
        "metric": job["metric"],
        "pair": f"local[{n_low}] vs local[{n_high}]",
        "nproc": nproc,
        f"input_{unit}": n_rows,
        **({job["stats_key"]: stats} if job["stats_key"] else {}),
        f"local{n_low}_s": round(t_low, 2),
        f"local{n_high}_s": round(t_high, 2),
        f"local{n_low}_{unit}_per_s": round(n_rows / t_low, 1),
        f"local{n_high}_{unit}_per_s": round(n_rows / t_high, 1),
        "efficiency": round(eff, 3),
        "all_walls_s": {str(k): [round(x, 2) for x in v] for k, v in walls.items()},
        "box_ceiling_efficiency_raw_multiproc": ceiling["efficiency"],
        "efficiency_vs_box_ceiling": round(eff / ceiling["efficiency"], 3)
        if ceiling["efficiency"]
        else None,
        "loadavg_1m_before_each_rep": loads,
    }
    print(json.dumps(out))
    with open(os.path.join(ROOT, "BENCH.md"), "a") as fh:
        fh.write(
            f"\n## {job['heading']} "
            f"{datetime.datetime.now().isoformat(timespec='seconds')}\n\n"
            f"```json\n{json.dumps(out, indent=2)}\n```\n"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
