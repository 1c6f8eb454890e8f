"""Scale-adaptive compute fan-out for under-parallel file scans.

A parquet scan's parallelism is bounded by row-group count, not bytes or
cores: a single-row-group file runs EVERY downstream per-row computation
on one core no matter the cluster size. Observed on the round-6 profile
(OPTIMIZATION_r06.md; ``perfbench/run.py --trace 1`` now records
whether fan-out fired): the 50k-doc bench table at sf1.0 is one
5.7 MB file with ONE row group, so the MinHash signature UDF and the
shingle HOF passes planned 1-2 scan tasks on local[32] — ~94% of the box
idle through a 13 s query (optimization guide §2.5 "input skew" /
§6 "input split size": splits cannot subdivide a row group).

:func:`ensure_compute_fanout` inserts a round-robin repartition before
heavy per-row compute (Python UDF hops, HOF lambda evaluation, vector
math) ONLY when the exchange is provably cheap and the scan is provably
under-parallel:

- the input must be file-backed (``df.inputFiles()`` — a listing, never
  a job; derived/shuffled inputs are already parallel),
- it must list fewer files than the target parallelism (many files ⇒
  the scan already fans out),
- every file must be locally stat-able and the total bytes small
  (< ``max_input_bytes``), so the added exchange moves a bounded,
  known-small payload.

At production scale (many files / TBs on object storage) every guard
fails closed and the function is a no-op — no constant tuned to
local[32] leaks into cluster plans.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

#: Above this input size the exchange is no longer "provably cheap" and
#: the scan almost certainly has enough row groups anyway (writers cap
#: row groups well below 256 MB).
DEFAULT_MAX_INPUT_BYTES = 256 * 1024 * 1024


def _local_path(uri: str) -> str | None:
    """file:-scheme URI -> local path; None for any other scheme."""
    if uri.startswith("file:"):
        return uri[5:] or None
    if uri.startswith("/"):
        return uri
    return None


def ensure_compute_fanout(
    df: DataFrame,
    target: int | None = None,
    max_input_bytes: int = DEFAULT_MAX_INPUT_BYTES,
) -> DataFrame:
    """Round-robin repartition a small, under-parallel file-backed scan
    so downstream per-row compute uses the whole cluster; no-op (and
    fails closed) everywhere else."""
    spark = df.sparkSession
    if target is None:
        target = spark.sparkContext.defaultParallelism
    if target <= 1:
        return df
    try:
        files = df.inputFiles()
    except Exception:
        return df
    if not files or len(files) >= target:
        return df
    total = 0
    for uri in files:
        path = _local_path(uri)
        if path is None:
            return df  # remote FS: cannot size cheaply — leave alone
        try:
            total += os.path.getsize(path)
        except OSError:
            return df  # vanished or unreadable since the listing
        if total > max_input_bytes:
            return df
    return df.repartition(target)
