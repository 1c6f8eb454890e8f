"""Materialize synthetic transcripts to Parquet, Spark-parallel.

Generation is embarrassingly parallel because every row is a pure
function of (conv_ordinal, turn_idx) (see :mod:`.synth`): the driver
plans conversation ordinals, executors expand them to turns via
``mapInArrow``. Cached under ``/root/repo/.data/transcripts/<tier>``;
regenerating yields byte-identical tables.
"""

from __future__ import annotations

import os
from typing import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession

from . import synth

DATA_ROOT = os.environ.get(
    "INXS_SPARK_DATA_ROOT", "/root/repo/.data/transcripts"
)

TRANSCRIPTS_SPARK_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)

_ARROW_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)


def _expand(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        for ordinal in batch.column("conv_ordinal").to_pylist():
            rows = {name: [] for name in _ARROW_SCHEMA.names}
            for turn in synth.iter_turns(ordinal):
                rows["conv_id"].append(turn["conv_id"])
                rows["turn_idx"].append(turn["turn_idx"])
                rows["role"].append(turn["role"])
                rows["text"].append(turn["text"])
                rows["tool"].append(turn["tool"])
                rows["ts"].append(turn["ts"].replace(tzinfo=None))
            yield pa.RecordBatch.from_pydict(
                {n: pa.array(rows[n], type=_ARROW_SCHEMA.field(n).type)
                 for n in _ARROW_SCHEMA.names},
                schema=_ARROW_SCHEMA,
            )


def transcripts_df(spark: SparkSession, total_turns: int,
                   parallelism: int = 32) -> DataFrame:
    plan = synth.plan_conversations(total_turns)
    ordinals = spark.createDataFrame(
        [(o,) for o, _length in plan], "conv_ordinal long"
    )
    # round-robin so zipf-long conversations spread across tasks
    return ordinals.repartition(parallelism).mapInArrow(
        _expand, TRANSCRIPTS_SPARK_SCHEMA
    )


def tier_path(tier: str) -> str:
    return os.path.join(DATA_ROOT, tier)


def ensure_transcripts(spark: SparkSession, tier: str = "small",
                       total_turns: int | None = None) -> str:
    """Materialize (once) and return the parquet path for a tier."""
    if total_turns is None:
        total_turns = synth.TIERS[tier]
    path = tier_path(tier)
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        transcripts_df(spark, total_turns).write.mode("overwrite").parquet(path)
    return path


SF_DIR_TIERS = {
    "sf0.001": "tiny", "sf0.01": "small", "sf0.1": "bench", "sf1.0": "scale",
}


def tier_for_sf_dir(sf_dir: str) -> str:
    """Map a driver sf dir to a transcript tier (TESTDATA.md tiers:
    sf0.001→tiny, sf0.01→small, sf0.1→bench, sf1.0→scale). An unknown
    dir raises instead of silently timing some other tier's input."""
    name = os.path.basename(sf_dir.rstrip("/"))
    try:
        return SF_DIR_TIERS[name]
    except KeyError:
        raise ValueError(
            f"no transcript tier for sf dir {name!r}; "
            f"known: {sorted(SF_DIR_TIERS)}"
        ) from None


def read_transcripts_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """JSONL transcript ingestion (the other common interchange format
    for conversation corpora): schema-enforced PERMISSIVE read where
    malformed lines land in a ``_corrupt_record`` column instead of
    failing the job — at web scale some fraction of every JSONL drop
    is broken and a fail-fast read loses the whole file.

    Returns rows in the standard transcripts schema plus
    ``_corrupt_record`` (NULL for clean rows); callers filter/count
    corrupt rows as lineage. Timestamps parse ISO-8601. NOTE: Spark
    refuses queries that touch ONLY the corrupt column on a raw JSON
    scan — ``.cache()`` (or persist to a table) before counting
    corrupt rows."""
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, _corrupt_record string"
    )
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]")
        .json(path)
    )
