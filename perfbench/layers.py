"""Per-layer probes of the traced run.

Each probe times one call into a layer's public functions inside a span
named after the layer, on the inputs of the workload that layer serves.
Counts are taken at the same calls, and the ones the generator knows
exactly are checked. Every probe returns ``(metrics, problems)``.

Which end-to-end metric each layer metric should move, and on which
workload (``analytics`` runs with ``--workload analytics`` but is not a
scored workload of BENCHMARK.json; its queries are probed in every traced
run):

==========================================  =================================
layer metric                                should move
==========================================  =================================
sources.scan_s                              wall_s on every workload (small)
kernel.us_per_turn                          extract wall_s, rows_per_s, cpu_s
kernel.failed_frac                          nothing; a correctness tripwire
plans.extract_pipeline.plumbing_s           extract wall_s
plans.extract_pipeline.partitions           extract wall_s
plans.extract_pipeline.spark_over_ideal     extract wall_s
operators.dedup.exact_dedup_s               curate wall_s
operators.dedup.lsh_candidates(_s)          curate wall_s, cpu_s
operators.dedup.minhash_pairs_s             curate wall_s, cpu_s
operators.dedup.verified_pairs              curate wall_s, cpu_s
operators.dedup.verify_yield                curate wall_s
operators.dedup.connected_components_s      curate wall_s
operators.dedup.clusters                    curate wall_s
operators.text.boilerplate_s                curate wall_s
operators.text.boilerplate_drop_frac        curate wall_s
operators.text.quality_gate_s               curate wall_s
operators.text.pii_scrub_s                  curate wall_s
operators.fanout.fired                      curate (and analytics) wall_s
jobs.curate.stage_s.* / rows.*              curate wall_s, cpu_s
queries.<name>_s                            analytics wall_s
spark.leaked_caches                         peak RSS (info line); should be 0
trace.overhead_s                            nothing
==========================================  =================================
"""

from __future__ import annotations

import random
import time

import pyarrow.parquet as pq

from .spans import Tracer
from .workloads import ANALYTICS_QUERIES, Curate, Extract

KERNEL_SAMPLE = 3000
CURATE_STAGES = ("input", "after_exact_dedup", "after_near_dup_prune",
                 "after_quality_lang_gate", "output")

#: every per-layer metric a traced run reports, in BENCHMARK.json order
PER_LAYER = (
    "sources.scan_s",
    "kernel.us_per_turn",
    "kernel.failed_frac",
    "plans.extract_pipeline.plumbing_s",
    "plans.extract_pipeline.partitions",
    "plans.extract_pipeline.spark_over_ideal",
    "operators.dedup.exact_dedup_s",
    "operators.dedup.lsh_candidates_s",
    "operators.dedup.lsh_candidates",
    "operators.dedup.minhash_pairs_s",
    "operators.dedup.verified_pairs",
    "operators.dedup.verify_yield",
    "operators.dedup.connected_components_s",
    "operators.dedup.clusters",
    "operators.text.boilerplate_s",
    "operators.text.boilerplate_drop_frac",
    "operators.text.quality_gate_s",
    "operators.text.pii_scrub_s",
    "operators.fanout.fired",
    *(f"jobs.curate.stage_s.{s}" for s in CURATE_STAGES),
    *(f"jobs.curate.rows.{s}" for s in CURATE_STAGES),
    *(f"queries.{q}_s" for q in ANALYTICS_QUERIES),
    "spark.leaked_caches",
    "trace.overhead_s",
)


def _identity_row(payload):
    """row_fn with no kernel: the payload passes through unchanged."""
    return payload, [], None


def seeded_sample(seed: int, n_rows: int, k: int) -> list[int]:
    return sorted(random.Random(seed).sample(range(n_rows), k))


def _last(tracer: Tracer, name: str) -> float:
    return tracer.durations(name)[-1]


def scan(spark, data: str, column: str, tracer: Tracer) -> float:
    """``spark.read.parquet`` plus one aggregate over ``column``."""
    from pyspark.sql import functions as F

    with tracer.span("sources.scan"):
        spark.read.parquet(data).agg(F.sum(F.length(column))).collect()
    return _last(tracer, "sources.scan")


def extract_layers(spark, w: Extract, tracer: Tracer) -> tuple[dict, list]:
    from inxs_spark.extract import extract_turn
    from inxs_spark.plans.extract_pipeline import default_fanout_partitions

    m: dict = {}
    texts = pq.read_table(w.data, columns=["text"]).column("text").to_pylist()
    payloads = [texts[i] for i in seeded_sample(w.seed, len(texts), KERNEL_SAMPLE)]
    with tracer.span("kernel.extract_turn"):
        t0 = time.perf_counter()
        failed = sum(extract_turn(p)[2] is not None for p in payloads)
        dt = time.perf_counter() - t0
    m["kernel.us_per_turn"] = dt / len(payloads) * 1e6
    m["kernel.failed_frac"] = failed / len(payloads)
    df = spark.read.parquet(w.data)
    with tracer.span("plans.extract_pipeline.plumbing"):
        out = w.digest(df, tracer, row_fn=_identity_row)
    m["plans.extract_pipeline.plumbing_s"] = _last(tracer, "plans.extract_pipeline.plumbing")
    with tracer.span("plans.extract_pipeline.default_fanout_partitions"):
        m["plans.extract_pipeline.partitions"] = default_fanout_partitions(df)
    problems = []
    if out["n"] != w.rows:
        problems.append(f"plumbing pass returned {out['n']} rows, expected {w.rows}")
    return m, problems


def curate_layers(spark, w: Curate, tracer: Tracer) -> tuple[dict, list]:
    from pyspark.sql import functions as F

    from inxs_spark.operators.dedup import (
        connected_components,
        exact_dedup,
        minhash_dedup_pairs,
        minhash_lsh_candidates,
    )
    from inxs_spark.operators.text import (
        language_id,
        pii_scrub,
        quality_score,
        remove_boilerplate_lines,
    )

    planted = w.manifest
    m: dict = {}
    df = spark.read.parquet(w.data)
    with tracer.span("operators.dedup.exact_dedup"):
        n_exact = exact_dedup(df).count()
    with tracer.span("operators.dedup.minhash_lsh_candidates"):
        n_cand = minhash_lsh_candidates(df).count()
    with tracer.span("operators.dedup.minhash_dedup_pairs"):
        pairs = minhash_dedup_pairs(df, threshold=0.85, prune_verify="auto").persist()
        n_pairs = pairs.count()
    with tracer.span("operators.dedup.connected_components"):
        labels = connected_components(pairs)
        n_clusters = labels.select("cluster_id").distinct().count()
    pairs.unpersist(blocking=True)
    if pairs._candidate_pairs_cache is not None:
        pairs._candidate_pairs_cache.unpersist(blocking=True)
    with tracer.span("operators.text.remove_boilerplate_lines"):
        clean = remove_boilerplate_lines(df)
        lines = clean.agg(F.sum("n_lines_in").alias("i"), F.sum("n_lines_kept").alias("k")).collect()[0]
    clean._blacklist_cache.unpersist(blocking=True)
    with tracer.span("operators.text.quality_gate"):
        quality_score(df).agg(F.avg("quality")).collect()
        language_id(df).groupBy("lang_pred").count().collect()
    with tracer.span("operators.text.pii_scrub"):
        pii = pii_scrub(df).agg(F.sum("n_emails").alias("e"),
                                F.sum("n_long_numbers").alias("n")).collect()[0]
    m.update({
        "operators.dedup.exact_dedup_s": _last(tracer, "operators.dedup.exact_dedup"),
        "operators.dedup.lsh_candidates_s": _last(tracer, "operators.dedup.minhash_lsh_candidates"),
        "operators.dedup.lsh_candidates": n_cand,
        "operators.dedup.minhash_pairs_s": _last(tracer, "operators.dedup.minhash_dedup_pairs"),
        "operators.dedup.verified_pairs": n_pairs,
        "operators.dedup.verify_yield": n_pairs / n_cand if n_cand else 0.0,
        "operators.dedup.connected_components_s": _last(tracer, "operators.dedup.connected_components"),
        "operators.dedup.clusters": n_clusters,
        "operators.text.boilerplate_s": _last(tracer, "operators.text.remove_boilerplate_lines"),
        "operators.text.boilerplate_drop_frac": (lines["i"] - lines["k"]) / lines["i"],
        "operators.text.quality_gate_s": _last(tracer, "operators.text.quality_gate"),
        "operators.text.pii_scrub_s": _last(tracer, "operators.text.pii_scrub"),
    })
    dups = planted["exact_dups"] + planted["near_dups"]
    expect = {
        "exact_dedup rows": (n_exact, planted["rows"] - planted["exact_dups"]),
        "verified pairs": (n_pairs, dups),
        "clusters": (n_clusters, dups),
        "lines in": (lines["i"], planted["lines"]),
        "boilerplate lines dropped": (lines["i"] - lines["k"], planted["boilerplate_lines"]),
        "e-mails found": (pii["e"], planted["pii_docs"]),
        "long numbers found": (pii["n"], planted["pii_docs"]),
    }
    problems = [f"{what}: {got} != planted {want}"
                for what, (got, want) in expect.items() if got != want]
    return m, problems


def curate_stage_metrics(w: Curate, result: dict) -> dict:
    records = {r["stage"]: r for r in w.stage_records(result)}
    m = {}
    for stage in CURATE_STAGES:
        m[f"jobs.curate.stage_s.{stage}"] = records[stage]["wall_s"]
        m[f"jobs.curate.rows.{stage}"] = records[stage]["rows"]
    return m


def query_metrics(tracer: Tracer) -> dict:
    return {f"queries.{q}_s": _last(tracer, f"queries.{q}") for q in ANALYTICS_QUERIES}


def fanout_fired(spark, inputs: list[str]) -> int:
    """How many of the workload inputs ``ensure_compute_fanout`` repartitions."""
    from inxs_spark.operators.fanout import ensure_compute_fanout

    fired = 0
    for path in inputs:
        df = spark.read.parquet(path)
        fired += ensure_compute_fanout(df) is not df
    return fired
