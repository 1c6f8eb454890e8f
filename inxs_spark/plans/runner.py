"""Resumable chunked extraction runner (SURVEY.md §8 M3;
BASELINE.json:6 checkpoint manifest + lineage).

Why chunks: a plain ``df.write`` commits atomically per JOB — if the
driver dies at 90%, Parquet publishes nothing and a rerun starts from
zero. At 10^12 turns that is unacceptable, so the runner splits the
input into K chunks by INPUT FILE GROUPS (the sandbox analogue of
splitting an Iceberg table by manifest/data files — no re-scan per
chunk, exact coverage, no row ever in two chunks) and commits each
chunk independently:

    out_root/extracted/chunk=<k>/   per-chunk Parquet (job-atomic)
    out_root/metrics/*.json         per-(chunk, partition) lineage rows
    out_root/manifests/chunk-<k>.json  checkpoint manifest (atomic rename)
    out_root/metrics_table/         compacted metrics Parquet

Resume = anti-join the chunk list against completed manifests
(broadcast the tiny manifest side — SURVEY.md §3.C joins row) and run
only the difference. Completed chunks are never re-read or re-written,
which the kill/rerun test asserts (SURVEY.md §6.2 item 4).

In production the same structure maps to Iceberg: per-chunk appends in
one transaction with a chunk watermark table, metrics as a real table
append, snapshot-id pinning for input stability.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..extract import MAIN_CONTENT
from ..kernel.transformation import Transformation
from ..sources.io import (
    compact_records,
    input_fingerprint,
    local_path,
    write_json_atomic,
)
from .extract_pipeline import extract_df

METRICS_SCHEMA = (
    "run_id string, chunk_id int, partition_id int, input_snapshot_id string, "
    "rule_set_hash string, rows_in long, rows_out long, failures long, "
    "wall_ms long"
)


def _chunk_files(df: DataFrame, chunks: int) -> list[list[str]]:
    """The listed input file URIs dealt round-robin into ``chunks``
    groups. Spark lists percent-encoded ``file:`` URIs and would encode
    them again if read back as is: read a group through
    :func:`~inxs_spark.sources.io.local_path`."""
    files = sorted(df.inputFiles())
    if not files:
        raise ValueError("input has no files")
    chunks = min(chunks, len(files))
    return [files[k::chunks] for k in range(chunks)]


def _manifest_path(out_root: str, chunk_id: int) -> str:
    return os.path.join(out_root, "manifests", f"chunk-{chunk_id:04d}.json")


def _write_manifest(out_root: str, record: dict) -> None:
    write_json_atomic(_manifest_path(out_root, record["chunk_id"]), record)


def _manifest_records(out_root: str) -> list[dict]:
    manifest_dir = os.path.join(out_root, "manifests")
    records = []
    if os.path.isdir(manifest_dir):
        for name in sorted(os.listdir(manifest_dir)):
            if name.startswith("chunk-") and name.endswith(".json"):
                with open(os.path.join(manifest_dir, name)) as fh:
                    rec = json.load(fh)
                if rec.get("status") == "completed":
                    records.append(rec)
    return records


def completed_chunks(spark: SparkSession, out_root: str) -> DataFrame:
    """Manifest table of completed chunks (chunk_id, rows_out, ...)."""
    records = [
        (rec["chunk_id"], rec["rows_out"], rec["input_snapshot_id"])
        for rec in _manifest_records(out_root)
    ]
    return spark.createDataFrame(
        records, "chunk_id int, rows_out long, input_snapshot_id string"
    )


class ResumeMismatch(RuntimeError):
    """A completed manifest was built from a DIFFERENT input snapshot,
    chunking, or rule set than the current run — silently reusing it
    would miss or duplicate rows (or mix rule versions) in the output."""


def validate_manifests(out_root: str, snapshot: str, n_chunks: int,
                       rule_hash: str) -> None:
    """Resume safety gate: every completed manifest must agree with the
    current run's input snapshot id, chunk count, and rule-set hash.
    Manifests from round-1 runs carry no n_chunks field; they fail the
    check too (their chunking cannot be proven compatible)."""
    problems = []
    for rec in _manifest_records(out_root):
        cid = rec.get("chunk_id")
        if rec.get("input_snapshot_id") != snapshot:
            problems.append(
                f"chunk {cid}: input_snapshot_id "
                f"{rec.get('input_snapshot_id')!r} != current {snapshot!r}"
            )
        if rec.get("n_chunks") != n_chunks:
            problems.append(
                f"chunk {cid}: n_chunks {rec.get('n_chunks')!r} != "
                f"current {n_chunks}"
            )
        if rec.get("rule_set_hash") != rule_hash:
            problems.append(
                f"chunk {cid}: rule_set_hash {rec.get('rule_set_hash')!r} "
                f"!= current {rule_hash!r}"
            )
    if problems:
        raise ResumeMismatch(
            "completed manifests are incompatible with this run (use a "
            "fresh out_root, or delete the stale manifests + chunk data "
            "to recompute): " + "; ".join(problems)
        )


def pending_chunks(spark: SparkSession, out_root: str, n_chunks: int) -> list[int]:
    """chunk ids still to run: anti-join all-chunks against the
    completed-manifest table (broadcast the small side)."""
    all_chunks = spark.range(n_chunks).select(F.col("id").cast("int").alias("chunk_id"))
    done = completed_chunks(spark, out_root)
    pending = all_chunks.join(
        F.broadcast(done), "chunk_id", "left_anti"
    ).orderBy("chunk_id")
    return [r.chunk_id for r in pending.collect()]


def run_extraction(
    spark: SparkSession,
    input_path: str,
    out_root: str,
    transformation: Transformation = MAIN_CONTENT,
    chunks: int = 8,
    num_partitions: Optional[int] = None,
    salt_buckets: int = 64,
    run_id: Optional[str] = None,
) -> dict:
    """Run (or resume) the extraction job. Returns a summary dict."""
    run_id = run_id or f"run-{uuid.uuid4().hex[:12]}"
    snapshot = input_fingerprint(input_path)
    rule_hash = transformation.fingerprint()
    base = spark.read.parquet(input_path)
    file_groups = _chunk_files(base, chunks)
    n_chunks = len(file_groups)
    validate_manifests(out_root, snapshot, n_chunks, rule_hash)
    todo = pending_chunks(spark, out_root, n_chunks)
    metrics_dir = os.path.join(out_root, "metrics")
    t0 = time.monotonic()
    rows_total = 0
    for chunk_id in todo:
        chunk_df = spark.read.parquet(*map(local_path, file_groups[chunk_id]))
        out_path = os.path.join(out_root, "extracted", f"chunk={chunk_id}")
        extracted = extract_df(
            chunk_df,
            transformation,
            num_partitions=num_partitions,
            salt_buckets=salt_buckets,
            metrics_dir=metrics_dir,
            run_id=run_id,
            chunk_id=chunk_id,
            input_snapshot_id=snapshot,
        )
        extracted.write.mode("overwrite").parquet(out_path)
        # rows_out from the per-partition lineage metrics the UDF just
        # wrote — round 1 re-read the freshly written chunk purely to
        # count it, doubling chunk read IO at scale
        rows_out = _chunk_rows_out(metrics_dir, chunk_id, run_id)
        rows_total += rows_out
        _write_manifest(
            out_root,
            {
                "run_id": run_id,
                "chunk_id": chunk_id,
                "n_chunks": n_chunks,
                "status": "completed",
                "rows_out": rows_out,
                "input_snapshot_id": snapshot,
                "rule_set_hash": rule_hash,
                "output_fingerprint": input_fingerprint(out_path),
                "completed_at": time.time(),
            },
        )
    compact_records(spark, out_root, METRICS_SCHEMA)
    return {
        "run_id": run_id,
        "chunks_total": n_chunks,
        "chunks_run": len(todo),
        "chunks_skipped": n_chunks - len(todo),
        "rows_written_this_run": rows_total,
        "input_snapshot_id": snapshot,
        "rule_set_hash": rule_hash,
        "wall_s": round(time.monotonic() - t0, 3),
        "output": os.path.join(out_root, "extracted"),
    }


def _chunk_rows_out(metrics_dir: str, chunk_id: int, run_id: str) -> int:
    """Sum rows_out over THIS run's partition metrics for the chunk.
    Filenames are keyed (chunk, partition) and written atomically, so
    task retries overwrite idempotently; filtering on run_id discards
    leftovers from a previous failed attempt with different
    partitioning."""
    if not os.path.isdir(metrics_dir):
        return 0
    total = 0
    prefix = f"c{chunk_id:04d}-"
    for name in os.listdir(metrics_dir):
        if name.startswith(prefix) and name.endswith(".json"):
            with open(os.path.join(metrics_dir, name)) as fh:
                rec = json.load(fh)
            if rec.get("run_id") == run_id:
                total += rec.get("rows_out", 0)
    return total


def _group_fingerprint(files: list[str], stat_fn=None) -> str:
    """Change-detection key for a file group: (path, size, mtime_ns)
    per file. mtime is included so an in-place rewrite that happens to
    preserve the byte size is still detected (round-2 ADVICE finding:
    size-only fingerprints silently skipped such groups). A file that
    cannot be statted FAILS the run instead of degrading to a
    path-list check that would treat changed content as already
    extracted — non-local URIs (s3://, hdfs://) need a ``stat_fn``
    (path → (size, mtime_ns)) backed by the filesystem API."""
    import hashlib

    entries = []
    for f in sorted(files):
        if stat_fn is not None:
            size, mtime_ns = stat_fn(f)
        else:
            local = local_path(f)
            if "://" in local:
                raise ValueError(
                    f"cannot stat non-local input file {f!r}: incremental "
                    "change detection needs a stat_fn for remote "
                    "filesystems (size+mtime via the storage API)"
                )
            try:
                st = os.stat(local)
            except OSError as exc:
                raise ValueError(
                    f"cannot stat input file {f!r} for incremental "
                    f"change detection: {exc}"
                ) from exc
            size, mtime_ns = st.st_size, st.st_mtime_ns
        entries.append(f"{f}:{size}:{mtime_ns}")
    return hashlib.sha256("\n".join(entries).encode()).hexdigest()[:16]


def run_extraction_incremental(
    spark: SparkSession,
    input_path: str,
    out_root: str,
    transformation: Transformation = MAIN_CONTENT,
    groups: int = 8,
    num_partitions: Optional[int] = None,
    salt_buckets: int = 64,
    run_id: Optional[str] = None,
    stat_fn=None,
) -> dict:
    """Extraction over a GROWING input (daily appends — the mode the
    strict :func:`run_extraction` gate deliberately rejects).

    Files map to stable groups by path hash; each group's manifest
    records the fingerprint of its file list. A rerun recomputes ONLY
    groups whose fingerprint changed (new/changed files) or that have
    no manifest — appends touch a few groups, everything else skips.
    Each group's output directory is overwritten atomically per job,
    so recomputed groups replace their own rows exactly (a group
    always re-reads ALL its files — no partial-group state to merge).

    Rule-set changes still hard-fail: mixing rule versions inside one
    output table is never safe; use a fresh out_root to re-extract."""
    import zlib

    run_id = run_id or f"run-{uuid.uuid4().hex[:12]}"
    rule_hash = transformation.fingerprint()
    base = spark.read.parquet(input_path)
    files = sorted(base.inputFiles())
    if not files:
        raise ValueError("input has no files")
    group_files: dict[int, list[str]] = {}
    for f in files:
        k = zlib.crc32(f.encode()) % groups
        group_files.setdefault(k, []).append(f)

    existing = {rec["chunk_id"]: rec for rec in _manifest_records(out_root)}
    for rec in existing.values():
        if rec.get("rule_set_hash") != rule_hash:
            raise ResumeMismatch(
                f"group {rec.get('chunk_id')}: rule_set_hash "
                f"{rec.get('rule_set_hash')!r} != current {rule_hash!r} — "
                "incremental mode never mixes rule versions; use a fresh "
                "out_root"
            )

    metrics_dir = os.path.join(out_root, "metrics")
    t0 = time.monotonic()
    rows_total = 0
    ran, skipped = [], []
    for k in sorted(group_files):
        fp_k = _group_fingerprint(group_files[k], stat_fn=stat_fn)
        prev = existing.get(k)
        if prev is not None and prev.get("group_fingerprint") == fp_k:
            skipped.append(k)
            continue
        ran.append(k)
        out_path = os.path.join(out_root, "extracted", f"group={k}")
        extracted = extract_df(
            spark.read.parquet(*map(local_path, group_files[k])),
            transformation,
            num_partitions=num_partitions,
            salt_buckets=salt_buckets,
            metrics_dir=metrics_dir,
            run_id=run_id,
            chunk_id=k,
            input_snapshot_id=fp_k,
        )
        extracted.write.mode("overwrite").parquet(out_path)
        rows_out = _chunk_rows_out(metrics_dir, k, run_id)
        rows_total += rows_out
        _write_manifest(
            out_root,
            {
                "run_id": run_id,
                "chunk_id": k,
                "group_fingerprint": fp_k,
                "n_files": len(group_files[k]),
                "status": "completed",
                "rows_out": rows_out,
                "input_snapshot_id": fp_k,
                "rule_set_hash": rule_hash,
                "completed_at": time.time(),
            },
        )
    compact_records(spark, out_root, METRICS_SCHEMA)
    return {
        "run_id": run_id,
        "groups_total": len(group_files),
        "groups_run": len(ran),
        "groups_skipped": len(skipped),
        "rows_written_this_run": rows_total,
        "rule_set_hash": rule_hash,
        "wall_s": round(time.monotonic() - t0, 3),
        "output": os.path.join(out_root, "extracted"),
    }


def read_extracted(spark: SparkSession, out_root: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_root, "extracted"))
