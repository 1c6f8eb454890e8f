"""One fan-out rule for every Python stage.

A Python stage (a ``mapInArrow`` hop, an ``arrow_udf``, an interpreted
lambda) runs one task per input partition, and Spark splits no file
below its row group nor a small file below the 4 MB
``openCostInBytes``: one or two small files run the stage on one or two
tasks while the other cores idle. :func:`ensure_compute_fanout` places
at most one exchange before such a stage, decided from the planned
input alone:

- read the partition count ``df`` plans, without a Spark job
  (:func:`planned_partitions`: the RDD of the plan, or of the child of
  a top ``WholeStageCodegen`` stage, whose code then is not compiled);
- a streaming frame, a plan that already shuffles (``AdaptiveSparkPlan``)
  or one with at least ``defaultParallelism`` partitions comes back
  unchanged;
- anything narrower gets ``df.repartition(cores, *keys)``: hashed on the
  caller's id columns, round-robin when it passes none.

Callers: ``plans.extract_pipeline.extract_df`` (``conv_id, turn_idx``),
``plans.transform_pipeline.transform_df`` (its ``id_cols``), and
``dedup.minhash_band_memberships`` and ``dedup.jaccard_verify`` with no
keys: over a few thousand documents a hash on the id leaves the
largest of four tasks about 7% above the mean, which costs the Python
stage more than the local sort Spark puts before a round-robin
repartition (BENCH.md "One fan-out rule").

Measured in BENCH.md: "Compute fan-out per call site" kept only the two
MinHash sites (the other 13 lost or tied with fan-out on), "Narrow
inputs" timed the planned-count rule through the resumable runner, and
"MAIN_CONTENT in one pass" timed the probe on the sf0.1 documents scan:
a median 27–30 ms per call warm (7 ms of it planning), 0.44–0.74 s for
the first call in a session. A floor on rows or bytes
per split is still open: the small tier through the runner takes
18.4 s with this rule against 16.0 s with no exchange.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame


def planned_partitions(df: DataFrame) -> Optional[int]:
    """The partition count ``df`` plans, read without a Spark job, or
    None for a streaming frame or a plan that already shuffles
    (building an adaptive plan's RDD would run its upstream stages)."""
    if df.isStreaming:
        return None
    plan = df._jdf.queryExecution().executedPlan()
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":
        return None
    if name.startswith("WholeStageCodegen"):
        # the stage maps its child's partitions one to one; building
        # the child's RDD skips compiling the stage's generated code
        plan = plan.children().head()
    return plan.execute().getNumPartitions()


def ensure_compute_fanout(df: DataFrame, *keys) -> DataFrame:
    """``df.repartition(cores, *keys)`` when ``df`` plans fewer
    partitions than ``defaultParallelism`` and does not shuffle yet;
    ``df`` itself otherwise."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    planned = planned_partitions(df)
    if planned is None or planned >= cores:
        return df
    return df.repartition(cores, *keys)
