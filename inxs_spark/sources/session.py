"""SparkSession factory with engine defaults.

Local mode here; on a real cluster the same configs ship via
``spark-submit --conf`` (BASELINE.json:14). AQE stays on for runtime
skew/coalesce re-planning; Arrow batch size bounds Python-worker memory
per batch (SURVEY.md §5.2). File scans split into at least two tasks
per core: Spark's default of one per core packs small files by count
(each is charged the 4 MB ``openCostInBytes``), so one uneven split
stalls a stage that runs the extraction kernel straight over the
scan. Inputs above ``maxPartitionBytes`` × 2 × cores split as before.

Post-shuffle stages are sized by cores, not by bytes. AQE's
``coalescePartitions.parallelismFirst`` aims each coalesced partition
at shuffle bytes / ``defaultParallelism``, but Spark floors that
target at ``coalescePartitions.minPartitionSize`` (1 MB), so a stage
that shuffles under cores × 1 MB collapses onto fewer tasks than
cores, down to one. Curation's stages shuffle little and spend a lot
of CPU per byte (the final gate/scrub write, the LSH bucket stage),
so the floor here is one byte: every coalesced stage lands on about
``defaultParallelism`` tasks. Greedy packing often gives cores + 1:
the last partition is the small remainder, so its second wave costs
tens of milliseconds. Floors of 16 KB to 256 KB timed the same as one
byte on curation; one byte keeps the rule free of a byte size.
Persisted frames follow the same rule:
``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`` (off by
default in Spark 4.1) lets AQE coalesce the plan a cache is built
from, so a frame persisted after a shuffle holds about cores
partitions, not ``spark.sql.shuffle.partitions``, and every stage
that reads it runs that many tasks instead of 32 (each Python task
has about 70 ms of fixed cost). Its output partitioning is then no
longer the shuffle's hash partitioning, so a join keyed like the
cached shuffle may plan one more exchange.

Local Python workers start through
:mod:`inxs_spark.sources.worker_daemon`, which removes the per-task
cost of re-reading Spark's pyspark archives.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
ARROW_MAX_RECORDS_PER_BATCH = 4096
#: file-scan splits asked for per core (``spark.sql.files.minPartitionNum``)
SCAN_SPLITS_PER_CORE = 2
WORKER_DAEMON_MODULE = "inxs_spark.sources.worker_daemon"
#: AQE's floor on a coalesced shuffle partition (Spark's default 1 MB)
COALESCE_MIN_PARTITION_SIZE = "1b"


def worker_daemon_module(master: str) -> str | None:
    """The Python daemon module for ``master``: ours when local-mode
    workers can import this package, that is when its root is the
    working directory or on ``PYTHONPATH`` (Spark starts the daemon
    there with ``python -m``); otherwise None, which keeps Spark's
    ``pyspark.daemon`` (a daemon that cannot be imported fails every
    Python task)."""
    if not master.startswith("local"):
        return None
    root = os.path.realpath(os.path.join(os.path.dirname(__file__), "..", ".."))
    entries = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    if any(os.path.realpath(p or os.getcwd()) == root for p in entries):
        return WORKER_DAEMON_MODULE
    return None


def get_spark(
    master: str | None = None,
    app_name: str = "inxs_spark",
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            COALESCE_MIN_PARTITION_SIZE,
        )
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS_PER_BATCH),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    daemon = worker_daemon_module(master)
    if daemon is not None:
        builder = builder.config("spark.python.daemon.module", daemon)
    spark = builder.getOrCreate()
    spark.conf.set(
        "spark.sql.files.minPartitionNum",
        str(SCAN_SPLITS_PER_CORE * spark.sparkContext.defaultParallelism),
    )
    return spark
