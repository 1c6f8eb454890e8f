"""Storage helpers the jobs share.

Tables are Parquet, read and written with Spark's own
``spark.read.parquet`` / ``df.write.parquet`` at each call site (no
Iceberg jars locally, SURVEY.md §0 environment constraints). This
module holds what those calls do not cover:

- :func:`write_bucketed`, the co-located-join layout;
- :func:`input_fingerprint`, the stand-in for an Iceberg snapshot id
  (BASELINE.json:6): a hash over a table's files' (path, size, mtime)
  — stable for an immutable table — and :func:`local_path`, which
  maps the file URIs Spark lists back to paths;
- small JSON files (run records, manifests, index metadata, codebooks,
  tokenizer models): :func:`write_json_atomic` is the package's one
  write-then-rename, and :func:`compact_records` folds a run's
  ``metrics/*.json`` records into its queryable ``metrics_table``;
- the rows a ``mapInArrow`` stage emits: :func:`row_batcher` is the
  package's one way from Python row tuples to an Arrow batch.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import urllib.parse
import uuid
from typing import Callable

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table: str, bucket_cols: list[str],
                   n_buckets: int, sort_cols: list[str] | None = None) -> None:
    """Persist a table BUCKETED by the join/aggregation key — the
    co-located-join layout. Two tables bucketed the same way join with
    ZERO Exchange on either side (asserted in
    tests/test_stateful_and_io.py): at 100 TB this converts every
    recurring fact-fact join from a full shuffle into a local
    merge-per-bucket. Parquet+bucketBy here; on Iceberg the same call
    becomes a ``bucket(n, col)`` partition transform."""
    writer = df.write.format("parquet").mode("overwrite")
    writer = writer.bucketBy(n_buckets, *bucket_cols)
    writer = writer.sortBy(*(sort_cols or bucket_cols))
    writer.saveAsTable(table)


def local_path(uri: str) -> str:
    """The local filesystem path of a ``file:`` URI as Spark lists
    input files (``file:/a%20b/x``, ``file:///a%20b/x``): scheme
    stripped, percent-escapes decoded. Any other string — a plain
    path, or a remote URI such as ``s3://b/k`` — comes back as is."""
    parts = urllib.parse.urlsplit(uri)
    if parts.scheme != "file":
        return uri
    return urllib.parse.unquote(parts.path)


def input_fingerprint(location: str) -> str:
    """Deterministic fingerprint of an on-disk input table — the
    sandbox stand-in for an Iceberg snapshot id: (path, size,
    mtime_ns) per data file, so a same-size in-place rewrite changes
    it too."""
    entries = []
    if os.path.isdir(location):
        for dirpath, _dirnames, filenames in os.walk(location):
            for name in sorted(filenames):
                if name.startswith(("_", ".")):
                    continue
                full = os.path.join(dirpath, name)
                stat = os.stat(full)
                entries.append(
                    f"{os.path.relpath(full, location)}:{stat.st_size}"
                    f":{stat.st_mtime_ns}"
                )
    elif os.path.exists(location):
        stat = os.stat(location)
        entries.append(
            f"{os.path.basename(location)}:{stat.st_size}:{stat.st_mtime_ns}"
        )
    digest = hashlib.sha256("\n".join(sorted(entries)).encode()).hexdigest()
    return f"files-{digest[:24]}"


def write_json_atomic(path: str, obj_or_lines, **dump_kwargs) -> None:
    """Write ``obj_or_lines`` as JSON to ``path`` atomically: readers see
    the old file or the new one, never a torn write. A list is written
    as JSON Lines (one value per line, Spark's JSON reader layout); any
    other value as one JSON document, with ``dump_kwargs`` passed to
    :func:`json.dumps`. The bytes go to a uniquely named temp file in
    the same directory (created if missing), which is then renamed
    onto ``path``; on any error the temp file is removed and ``path``
    is left untouched. Temp names start with "." and end in ".tmp",
    so ``*.json`` listings never pick one up."""
    if isinstance(obj_or_lines, list):
        text = "".join(json.dumps(r, **dump_kwargs) + "\n" for r in obj_or_lines)
    else:
        text = json.dumps(obj_or_lines, **dump_kwargs)
    parent, name = os.path.split(path)
    os.makedirs(parent or ".", exist_ok=True)
    tmp = os.path.join(parent, f".{name}.{uuid.uuid4().hex}.tmp")
    try:
        with open(tmp, "x", encoding="utf-8") as fh:
            fh.write(text)
        os.replace(tmp, path)
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)
        raise


def compact_records(spark: SparkSession, root: str, schema: str) -> None:
    """Fold every ``<root>/metrics/*.json`` record into the
    ``<root>/metrics_table`` parquet, read with the fixed ``schema``
    (the sandbox stand-in for a metrics Iceberg table append). One
    pass over all records: call it once per run, or once at stream
    shutdown, not per record. No-op when there are no records."""
    mdir = os.path.join(root, "metrics")
    if not os.path.isdir(mdir):
        return
    paths = [
        os.path.join(mdir, n) for n in sorted(os.listdir(mdir))
        if n.endswith(".json")
    ]
    if not paths:
        return
    spark.read.schema(schema).json(paths).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(root, "metrics_table"))


def row_batcher(ddl: str) -> Callable[[list], pa.RecordBatch]:
    """``to_batch(rows)`` for a ``mapInArrow`` stage whose output is the
    Spark DDL schema ``ddl``: the Arrow schema is resolved here, on the
    driver, and ``to_batch`` turns a list of row tuples (fields in
    ``ddl`` order, ``None`` for NULL) into one ``RecordBatch`` of it,
    column by column."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    schema = to_arrow_schema(_parse_datatype_string(ddl))

    def to_batch(rows: list) -> pa.RecordBatch:
        cols = list(zip(*rows)) if rows else [()] * len(schema)
        return pa.RecordBatch.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
            schema=schema,
        )

    return to_batch
