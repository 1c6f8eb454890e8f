"""Compute fan-out for under-parallel file scans, kept only where a
local A/B shows it helps.

A parquet scan's parallelism is bounded by row-group count, not bytes or
cores: a single-row-group file runs every downstream per-row
computation on one scan task. :func:`ensure_compute_fanout` inserts a
round-robin repartition to ``defaultParallelism`` ahead of such work,
and only when the exchange is provably cheap and the scan provably
under-parallel:

- the input is file-backed (``df.inputFiles()`` — a listing, never a
  job; cached, shuffled or driver-built frames list nothing and are
  left alone),
- it lists fewer files than the target parallelism,
- every file is a ``file:`` URI whose decoded path stats, and the total
  stays under :data:`MAX_INPUT_BYTES`.

Any other scheme, a failed stat or a large input fails closed: the
frame comes back unchanged, so nothing tuned to one box leaks into
cluster plans.

The measured rule (BENCH.md, "Compute fan-out per call site"): every
call site was timed with fan-out on and off, local[4], sf0.1, 10
interleaved pairs through the registry query that reaches it. A site
keeps the call only where fan-out won at least 9 of 10 pairs and the
median gap exceeded the off arm's interquartile range. Two sites pass,
both in MinHash dedup, whose per-row work is a Python signature UDF and
an interpreted shingle lambda over every document:

- ``dedup.minhash_band_memberships`` (2.61 s on vs 3.40 s off, 10/10),
- ``dedup.jaccard_verify`` (2.44 s vs 2.68 s, 10/10).

SimHash, boilerplate removal, containment, every similarity operator,
media features, PDF layout and ``q_cosine_topk`` lost or tied, and no
longer call it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from ..sources.io import local_path

#: Above this input size the exchange is no longer "provably cheap" and
#: the scan almost certainly has enough row groups anyway (writers cap
#: row groups well below 256 MB).
MAX_INPUT_BYTES = 256 * 1024 * 1024


def ensure_compute_fanout(df: DataFrame) -> DataFrame:
    """Round-robin repartition a small, under-parallel file-backed scan
    to ``defaultParallelism`` so downstream per-row compute uses the
    whole cluster; no-op (and fails closed) everywhere else."""
    target = df.sparkSession.sparkContext.defaultParallelism
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
        if not uri.startswith("file:"):
            return df  # remote FS: cannot size cheaply — leave alone
        try:
            total += os.path.getsize(local_path(uri))
        except OSError:
            return df  # vanished or unreadable since the listing
        if total > MAX_INPUT_BYTES:
            return df
    return df.repartition(target)
