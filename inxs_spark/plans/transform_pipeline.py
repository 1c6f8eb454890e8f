"""Generic transformation runner: execute ANY kernel Transformation
over a payload column at scale — the API-completeness piece that lets
a user of the reference run their own rule-sets (not just the
main-content preset) on the cluster.

Per input row the payload is parsed, the transformation applied, and
``result_fn(result, root)`` maps the transformation result to ZERO OR
MORE output records (fan-out — e.g. the reference's table-extraction
example emits one record per table row). Output rows carry the id
columns of their input row plus the caller's fields.

Same engine discipline as the extraction pipeline: the Arrow hop maps
straight over the scan (an input with fewer planned partitions than
cores, or ``num_partitions=n``, adds one ``repartition(n, *id_cols)``;
see ``operators.fanout.ensure_compute_fanout``), pathological payloads
contained (a document that fails to parse/transform is skipped and
counted, or raises under ``on_error='raise'``).

Example — the reference's table-extraction shape::

    t = Transformation(Rule("tr", (row_cells, lib.append("rows"))),
                       result_object="context.rows")
    records = transform_df(
        df, t,
        result_schema="row_idx int, cells array<string>",
        result_fn=lambda rows, root: [
            {"row_idx": i, "cells": list(r)} for i, r in enumerate(rows)
        ],
    )
"""

from __future__ import annotations

from typing import Callable, Iterator, Optional

import pyarrow as pa

from pyspark.sql import DataFrame

from ..kernel.parse import parse_payload
from ..kernel.transformation import Transformation
from ..operators.fanout import ensure_compute_fanout
from ..sources.io import row_batcher


def transform_df(
    df: DataFrame,
    transformation: Transformation,
    result_schema: str,
    result_fn: Callable,
    id_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    payload_col: str = "text",
    num_partitions: Optional[int] = None,
    on_error: str = "skip",
) -> DataFrame:
    """Run ``transformation`` over every payload; explode each result
    into records via ``result_fn(result, root) -> list[dict]``."""
    if on_error not in ("skip", "raise"):
        raise ValueError("on_error must be 'skip' or 'raise'")
    out_schema_str = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.select(*id_cols).schema.fields
    ) + ", " + result_schema
    from pyspark.sql.types import _parse_datatype_string

    to_batch = row_batcher(out_schema_str)
    result_names = _parse_datatype_string(result_schema).fieldNames()
    id_list = list(id_cols)

    def run_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            cols = {name: batch.column(i).to_pylist()
                    for i, name in enumerate(batch.schema.names)}
            payloads = cols[payload_col]
            out_rows: list[tuple] = []
            for row_i, payload in enumerate(payloads):
                try:
                    root, _kind = parse_payload(payload)
                    if root is None:
                        continue  # empty/plain payloads carry no DOM
                    result = transformation(root)
                    records = result_fn(result, root)
                except Exception:
                    if on_error == "raise":
                        raise
                    continue
                if not records:
                    continue
                ids = tuple(cols[name][row_i] for name in id_list)
                for rec in records:
                    out_rows.append(ids + tuple(rec.get(n) for n in result_names))
            yield to_batch(out_rows)

    pruned = df.select(*id_cols, payload_col)
    if num_partitions is None:
        pruned = ensure_compute_fanout(pruned, *id_list)
    else:
        pruned = pruned.repartition(num_partitions, *id_list)
    return pruned.mapInArrow(run_batches, out_schema_str)
