"""Resumable chunked extraction runner (SURVEY.md §8 M3;
BASELINE.json:6 checkpoint manifest + lineage).

Why chunks: a plain ``df.write`` commits atomically per JOB — if the
driver dies at 90%, Parquet publishes nothing and a rerun starts from
zero. At 10^12 turns that is unacceptable, so the runner splits the
input into ``chunks`` groups of INPUT FILES (the sandbox analogue of
splitting an Iceberg table by manifest/data files — no re-scan per
group, exact coverage, no row ever in two groups) and commits each
group independently:

    out_root/extracted/chunk=<k>/      group k's Parquet (job-atomic)
    out_root/metrics/c<k>.json         group k's lineage row
    out_root/manifests/chunk-<k>.json  checkpoint manifest (atomic rename)
    out_root/metrics_table/            compacted metrics Parquet

A file's group is ``crc32(uri) % chunks``: it depends on the file's
own path only, so appending files never moves an existing file to
another group.

Resume by per-group fingerprint. Each manifest records the (path,
size, mtime_ns) fingerprint of the files its group was extracted
from, and a rerun plans every group in Python, with no Spark job:

* fingerprint matches → skip: the group is never re-read or
  re-written (the kill/rerun test asserts it);
* manifest missing or stale (new, changed or crashed group) → delete
  the group's lineage records, recompute, overwrite its output, then
  write its lineage record and its manifest;
* no files left in the group → delete its output, records and
  manifest.

Lineage is counted on the group's own write: one ``Observation``
(rows, failures) rides the write's Spark jobs, so counting adds no
job and no re-read, and the driver writes the group's record from
it. No executor writes a record, so the metrics directory needs no
path shared with the executors.

A manifest written with another chunk count or rule set fails the
run (:class:`ResumeMismatch`): its groups cover other files, or its
rows come from other rules. No output is ever kept that was extracted
from an older version of a file.

In production the same structure maps to Iceberg: per-group appends in
one transaction with a group watermark table, metrics as a real table
append, snapshot-id pinning for input stability.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import time
import uuid
import zlib
from typing import Optional

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

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
    "run_id string, chunk_id int, input_snapshot_id string, "
    "rule_set_hash string, rows_in long, rows_out long, failures long, "
    "wall_ms long"
)


class ResumeMismatch(RuntimeError):
    """A completed manifest was built with a DIFFERENT chunk count or
    rule set than the current run — reusing it would miss or duplicate
    rows (or mix rule versions) in the output."""


def _manifest_path(out_root: str, chunk_id: int) -> str:
    return os.path.join(out_root, "manifests", f"chunk-{chunk_id:04d}.json")


def _output_path(out_root: str, chunk_id: int) -> str:
    return os.path.join(out_root, "extracted", f"chunk={chunk_id}")


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


def _lineage_records(metrics_dir: str, chunk_ids) -> list[str]:
    """Paths of the given groups' lineage records: ``c<k>.json``, and
    the per-partition ``c<k>-p<p>.json`` records of older runs."""
    if not os.path.isdir(metrics_dir):
        return []
    stems = {f"c{k:04d}" for k in chunk_ids}
    return [
        os.path.join(metrics_dir, name)
        for name in sorted(os.listdir(metrics_dir))
        if name.endswith(".json") and name[:-5].split("-")[0] in stems
    ]


def _group_fingerprint(files: list[str]) -> str:
    """Change-detection key for a file group: (path, size, mtime_ns)
    per file, so an in-place rewrite that keeps the byte size is still
    detected. A file that cannot be statted FAILS the run instead of
    degrading to a path-list check that would treat changed content as
    already extracted; that includes every non-local URI (s3://,
    hdfs://)."""
    entries = []
    for f in sorted(files):
        local = local_path(f)
        if "://" in local:
            raise ValueError(
                f"cannot stat non-local input file {f!r}: change detection "
                "needs size+mtime from the storage API"
            )
        try:
            st = os.stat(local)
        except OSError as exc:
            raise ValueError(
                f"cannot stat input file {f!r} for change detection: {exc}"
            ) from exc
        entries.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.sha256("\n".join(entries).encode()).hexdigest()[:16]


def run_extraction(
    spark: SparkSession,
    input_path: str,
    out_root: str,
    transformation: Transformation = MAIN_CONTENT,
    chunks: int = 8,
    num_partitions: Optional[int] = None,
    run_id: Optional[str] = None,
) -> dict:
    """Run (or resume) the extraction job. Returns a summary dict."""
    if chunks < 1:
        raise ValueError(f"chunks must be >= 1, got {chunks}")
    run_id = run_id or f"run-{uuid.uuid4().hex[:12]}"
    rule_hash = transformation.fingerprint()
    listing = spark.read.parquet(input_path)
    files = sorted(listing.inputFiles())
    if not files:
        raise ValueError("input has no files")
    groups: dict[int, list[str]] = {}
    for f in files:
        groups.setdefault(zlib.crc32(f.encode()) % chunks, []).append(f)

    manifests = {rec["chunk_id"]: rec for rec in _manifest_records(out_root)}
    problems = [
        f"chunk {k}: {field} {rec.get(field)!r} != current {want!r}"
        for k, rec in sorted(manifests.items())
        for field, want in (("n_chunks", chunks), ("rule_set_hash", rule_hash))
        if rec.get(field) != want
    ]
    if problems:
        raise ResumeMismatch(
            "completed manifests are incompatible with this run (use a "
            "fresh out_root, or delete the stale manifests + chunk data "
            "to recompute): " + "; ".join(problems)
        )
    fingerprints = {k: _group_fingerprint(fs) for k, fs in groups.items()}
    todo = [
        k for k in sorted(groups)
        if manifests.get(k, {}).get("input_snapshot_id") != fingerprints[k]
    ]
    # empty groups: drop whatever an earlier run left there, including
    # the output of a group that crashed before its manifest was written
    empty = [k for k in range(chunks) if k not in groups]
    metrics_dir = os.path.join(out_root, "metrics")
    for path in _lineage_records(metrics_dir, todo + empty):
        os.remove(path)
    for k in empty:
        shutil.rmtree(_output_path(out_root, k), ignore_errors=True)
        with contextlib.suppress(FileNotFoundError):
            os.remove(_manifest_path(out_root, k))

    t0 = time.monotonic()
    rows_total = 0
    for k in todo:
        out_path = _output_path(out_root, k)
        # counted on the write itself: re-reading the written group
        # only to count it would double its read IO
        obs = Observation()
        write_t0 = time.monotonic()
        # the listing's schema: no schema-inference job per group
        extract_df(
            spark.read.schema(listing.schema)
            .parquet(*map(local_path, groups[k])),
            transformation,
            num_partitions=num_partitions,
        ).observe(
            obs, F.count(F.lit(1)).alias("n"), F.count("failure").alias("f")
        ).write.mode("overwrite").parquet(out_path)
        wall_ms = int((time.monotonic() - write_t0) * 1000)
        counts = obs.get
        rows_out = counts["n"]
        rows_total += rows_out
        write_json_atomic(os.path.join(metrics_dir, f"c{k:04d}.json"), {
            "run_id": run_id,
            "chunk_id": k,
            "input_snapshot_id": fingerprints[k],
            "rule_set_hash": rule_hash,
            "rows_in": rows_out,  # extraction is 1:1 per input row
            "rows_out": rows_out,
            "failures": counts["f"],
            "wall_ms": wall_ms,
        })
        write_json_atomic(_manifest_path(out_root, k), {
            "run_id": run_id,
            "chunk_id": k,
            "n_chunks": chunks,
            "status": "completed",
            "rows_out": rows_out,
            "rule_set_hash": rule_hash,
            "n_files": len(groups[k]),
            "input_snapshot_id": fingerprints[k],
            "output_fingerprint": input_fingerprint(out_path),
            "completed_at": time.time(),
        })
    compact_records(spark, out_root, METRICS_SCHEMA)
    return {
        "run_id": run_id,
        "chunks_total": len(groups),
        "chunks_run": len(todo),
        "chunks_skipped": len(groups) - len(todo),
        "chunks_dropped": sum(k in manifests for k in empty),
        "rows_written_this_run": rows_total,
        "rule_set_hash": rule_hash,
        "wall_s": round(time.monotonic() - t0, 3),
        "output": os.path.join(out_root, "extracted"),
    }


def read_extracted(spark: SparkSession, out_root: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_root, "extracted"))
