"""The Spark extraction pipeline (SURVEY.md §4.3, BASELINE.json:14).

Plan shape::

    scan (column-pruned to conv_id, turn_idx, text — Catalyst pushes
          the projection into the Parquet/Iceberg scan)
      → mapInArrow(kernel executor)             [the only Python hop]

No exchange and no sort: per-turn extraction is row-independent, so
neither correctness nor any consumer depends on which task sees a row
or in what order (SURVEY.md §5.2 ordering invariant). Task balance
comes from the scan's own splits: ``sources.session.get_spark`` asks
for two per core (``spark.sql.files.minPartitionNum``). Spark's
default of one per core packs small files by count, because each file
is charged the 4 MB ``openCostInBytes`` on top of its real size, and
one uneven split then stalls the stage; with two per core the early
finishers take up the slack (A/B in BENCH.md "Extraction maps the
kernel straight over the scan").

An input with fewer planned partitions than cores (one or two small
files: a file group of the resumable runner, a streaming microbatch)
gets one ``repartition(cores, conv_id, turn_idx)`` before the hop
instead, so no core idles: the package's one fan-out rule,
``operators.fanout.ensure_compute_fanout``. ``num_partitions=n``
plans that one repartition at width ``n``, for callers that ask for a
width. Still no sort.

Vectorization: ``mapInArrow`` moves batches JVM→Python via Arrow IPC
once per ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows — no
per-row Python at the Spark API level (BASELINE.json:15). Inside the
batch the kernel runs per document, exactly like the reference library
would, minus lxml (SURVEY.md §0).

One contract, one encoder: a row function maps a payload to
``(extracted_text, spans, failure)``, declared once as
``RESULT_FIELDS``, and :func:`encode_turns` turns a batch of payloads
into those Arrow columns. Every kernel hop goes through it: this
module's mapInArrow, :func:`extract_df_deduped` (which is
:func:`extract_df` over the distinct payloads) and the SQL function
(``functions.sql``, an ``arrow_udf``).

Lineage is not this module's concern: the resumable runner
(``plans.runner``) counts each file group on the group's own write
and writes one record per group from the driver.
"""

from __future__ import annotations

from typing import Iterator, Optional

import pyarrow as pa

from pyspark.sql import DataFrame, functions as F

from ..extract import MAIN_CONTENT, turn_extractor
from ..kernel.transformation import Transformation
from ..operators.fanout import ensure_compute_fanout, planned_partitions

#: the per-turn result contract, declared once: (name, Spark DDL type)
#: of each column ``row_fn`` fills. The pipeline's output schema, the
#: SQL function's struct and the Arrow names are all built from it.
RESULT_FIELDS = (
    ("extracted_text", "string"),
    ("spans", "array<struct<start:int,end:int,path:string>>"),
    ("failure", "string"),
)
RESULT_NAMES = [name for name, _ in RESULT_FIELDS]
#: ``name type, ...``: a schema for mapInArrow, a struct for a UDF
RESULT_DDL = ", ".join(f"{name} {ddl}" for name, ddl in RESULT_FIELDS)
KEY_NAMES = ["conv_id", "turn_idx"]
OUTPUT_SPARK_SCHEMA = "conv_id string, turn_idx int, " + RESULT_DDL


def encode_turns(texts: list, row_fn) -> list:
    """``row_fn`` (payload → (text, spans, failure)) over one batch of
    payloads → the ``RESULT_FIELDS`` columns as Arrow arrays. The one
    place payloads become Arrow columns: the pipeline's mapInArrow and
    the SQL function both call it."""
    extracted: list[Optional[str]] = []
    fails: list[Optional[str]] = []
    # spans build FLAT (offsets + three value arrays) — pyarrow
    # converts flat primitive lists far faster than nested
    # list-of-tuples (profiled ~half the wrapper overhead)
    offsets = [0]
    s_starts: list[int] = []
    s_ends: list[int] = []
    s_paths: list[str] = []
    for payload in texts:
        text, spans, failure = row_fn(payload)
        extracted.append(text)
        for s, e, p in spans:
            s_starts.append(s)
            s_ends.append(e)
            s_paths.append(p)
        offsets.append(len(s_starts))
        fails.append(failure)
    spans_arr = pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int32()),
        pa.StructArray.from_arrays(
            [
                pa.array(s_starts, type=pa.int32()),
                pa.array(s_ends, type=pa.int32()),
                pa.array(s_paths, type=pa.string()),
            ],
            names=["start", "end", "path"],
        ),
    )
    return [
        pa.array(extracted, type=pa.string()),
        spans_arr,
        pa.array(fails, type=pa.string()),
    ]


def default_fanout_partitions(df: DataFrame) -> int:
    """The number of kernel tasks ``extract_df(df)`` runs over a file
    scan or a driver-built frame, read without running a Spark job.
    Raises ValueError for a plan that already shuffles."""
    planned = planned_partitions(df)
    if planned is None:
        raise ValueError(
            "default_fanout_partitions reads a planned scan; this plan "
            "already shuffles"
        )
    if ensure_compute_fanout(df) is df:
        return planned
    return df.sparkSession.sparkContext.defaultParallelism


def _shuffle_floor(spark) -> int:
    """User-tuned spark.sql.shuffle.partitions as an int, tolerating
    platforms that set it non-numerically (e.g. 'auto')."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    except (ValueError, TypeError):
        return 32


def extract_df(
    df: DataFrame,
    transformation: Transformation = MAIN_CONTENT,
    num_partitions: Optional[int] = None,
    row_fn=None,
    passthrough_cols: tuple = (),
) -> DataFrame:
    """transcripts → extracted(conv_id, turn_idx, extracted_text,
    spans, failure[, *passthrough_cols]). Pure transformation —
    callers choose the sink.

    ``row_fn`` overrides the per-payload extractor (payload → (text,
    spans, failure)) — e.g. the DOM-heuristic density extractor; the
    default runs the declarative ``transformation``. The mapInArrow
    closure captures it, so Spark cloudpickles it ONCE per job and
    reuses it for every batch on a worker.

    ``passthrough_cols`` (simple scalar source columns, e.g.
    ``("role",)``) ride the Arrow batch untouched: extraction is 1:1
    per input row, so a caller that needs source columns next to the
    extracted text (the SFT job needs ``role``) carries them through
    the hop instead of paying a full-corpus equi-join back to the
    source afterwards — at 10^12 turns that join is two more shuffles
    of the whole table."""
    passthrough_cols = tuple(passthrough_cols)
    # round-5 advice: a passthrough column colliding with the fixed
    # output schema (or the key/text inputs) used to fail deep inside
    # mapInArrow with a confusing duplicate-field error — reject it
    # up front with the actual offender named
    reserved = {"text", *KEY_NAMES, *RESULT_NAMES}
    clash = [c for c in passthrough_cols if c in reserved]
    if clash:
        raise ValueError(
            f"passthrough_cols {clash} collide with the extraction "
            f"output schema / key columns {sorted(reserved)}"
        )
    if row_fn is None:
        row_fn = turn_extractor(transformation)
    names = KEY_NAMES + RESULT_NAMES + list(passthrough_cols)

    def extract_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            schema = batch.schema
            texts = batch.column(schema.get_field_index("text")).to_pylist()
            keys = [
                batch.column(schema.get_field_index("conv_id")).cast(pa.string()),
                batch.column(schema.get_field_index("turn_idx")).cast(pa.int32()),
            ]
            passthrough = [
                batch.column(schema.get_field_index(c)) for c in passthrough_cols
            ]
            yield pa.RecordBatch.from_arrays(
                keys + encode_turns(texts, row_fn) + passthrough, names=names
            )

    out_schema = OUTPUT_SPARK_SCHEMA
    if passthrough_cols:
        out_schema += ", " + ", ".join(
            f"{c} {df.schema[c].dataType.simpleString()}"
            for c in passthrough_cols
        )
    pruned = df.select(*KEY_NAMES, "text", *passthrough_cols)
    if num_partitions is None:
        pruned = ensure_compute_fanout(pruned, "conv_id", "turn_idx")
    else:
        pruned = pruned.repartition(num_partitions, "conv_id", "turn_idx")
    return pruned.mapInArrow(extract_batches, out_schema)


def extract_df_deduped(
    df: DataFrame, transformation: Transformation = MAIN_CONTENT
) -> DataFrame:
    """Dedup-before-extract: run the kernel over DISTINCT payloads
    only, then join results back to every (conv_id, turn_idx).

    The 10^12-turn lever: agent transcripts repeat payloads heavily
    (tool banners, templated turns, retried calls). Kernel compute
    scales with DISTINCT payloads while the join-back is pure JVM
    shuffle — profitable whenever the duplicate factor outweighs one
    exchange of the (fingerprint, results) table. Byte-identical to
    :func:`extract_df` by construction (same kernel per distinct
    payload; test-asserted).

    Plan shape::

        scan ─┬─ project (conv_id, turn_idx, fp=md5(text))
              └─ distinct(fp, text) → repartition(fp) → extract_df
                   └────────── join on fp (both sides shuffle on fp)

    The key is a 128-bit md5 (32-char hex, 2^-128 collision odds —
    round 1 used a single xxhash64, where a collision is statistically
    EXPECTED at the 10^12-turn scale this targets and would assign one
    payload's results to another's rows). NULL texts map to the
    sentinel 'NULL', which can never collide with a 32-char digest.
    At 100 TB: AQE handles fp skew (the join IS a join, unlike the
    UDF fan-out in extract_df, so AQE's skew-join split applies); a
    super-hot fingerprint (billions of identical turns) is exactly the
    case where this variant wins biggest.
    """
    spark = df.sparkSession
    # not the scan's splits: this repartition carries the DISTINCT
    # payload set, whose size is unrelated to the raw input's
    # (billions of duplicate turns → thousands of fingerprints)
    num_partitions = max(
        spark.sparkContext.defaultParallelism, _shuffle_floor(spark)
    )
    fp = F.coalesce(F.md5("text"), F.lit("NULL")).alias("fp")
    keyed = df.select(*KEY_NAMES, "text", fp)
    distinct = (
        keyed.select("fp", "text")
        .dropDuplicates(["fp"])
        .repartition(num_partitions, "fp")
    )
    # the kernel hop is extract_df itself: fp passes through, and
    # literal keys fill the key columns (dropped before the join,
    # where ``keyed`` has the real ones — kept, they make the join's
    # key references ambiguous). The fp exchange above already
    # shuffles, so extract_df adds no fan-out on the literal keys,
    # which would send every distinct payload to one task.
    extracted_distinct = extract_df(
        distinct.select(
            F.lit("").alias("conv_id"), F.lit(0).alias("turn_idx"), "text", "fp"
        ),
        transformation,
        passthrough_cols=("fp",),
    ).drop(*KEY_NAMES)
    return (
        keyed.drop("text")
        .join(extracted_distinct, "fp")
        .drop("fp")
        .select(*KEY_NAMES, *RESULT_NAMES)
    )
