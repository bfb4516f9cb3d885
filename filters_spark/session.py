"""SparkSession factory with the engine's standard configuration.

Design notes (scale):
- Session timezone is pinned to UTC because the Datetime/Date filter
  semantics (reference filters/simple.py:175-291) always convert to UTC.
- Arrow is enabled for every pandas UDF boundary; kernel batches are
  sized via ``spark.sql.execution.arrow.maxRecordsPerBatch``.
- AQE is on: runtime shuffle-partition coalescing and skew-join splitting
  are the first line of defense against hot-repo skew; explicit salting
  in the engine layer (engine/cdc.py) is the second.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """The driver heap when ``FILTERS_SPARK_DRIVER_MEM`` is unset: a
    quarter of physical RAM, rounded to whole GiB (at least 1), capped
    at 48g. In local mode the driver JVM hosts every executor thread,
    so it gets the largest share — but a fixed 48g gets the JVM killed
    on a 16 GB host, where this gives 4g."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48, max(1, round(ram / 4 / 2**30)))}g"


def get_spark(
    app_name: str = "filters_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for the engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox; on
    a real cluster leave it unset and let spark-submit decide.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("FILTERS_SPARK_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # local mode: the driver JVM hosts all executor threads; an
        # undersized heap turns cache-build + Arrow batches into a GC
        # storm (measured: 146s GC in one 150k-row stage at 8g)
        .config(
            "spark.driver.memory",
            os.environ.get("FILTERS_SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        # Parquet scan parallelism: at 100 TB this is governed by file
        # splits; 128 MiB keeps partitions executor-memory friendly.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Never stall task waves waiting for data-locality: batches are
        # small-file scans where a 3s locality wait per wave dwarfs the
        # work (measured: 4 executors anti-scaled vs 1 purely from
        # locality waits on freshly-written scratch/lake files).
        .config("spark.locality.wait", "0")
        # v2 commits rename task outputs in the tasks (parallel) instead
        # of serially in the driver job commit — measurable on the
        # bucket-partitioned merge writes (hundreds of files/batch).
        # On HDFS this is the standard choice; S3A deployments should
        # use the cloud committers instead (see lake/fileio.py notes).
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.ui.enabled", "false")
    )
    if master.startswith("local-cluster"):
        # separate executor JVMs (the honest N-vs-4N proxy): ship the
        # package to executor python workers — the programmatic analog
        # of `spark-submit --py-files` for this repo layout.
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        builder = builder.config("spark.executorEnv.PYTHONPATH", repo_root)
        # Every executor JVM sizes its GC/JIT/fork-join pools to the
        # MACHINE's cores by default; N co-located executors then run
        # N x machine-cores service threads and thrash (measured: 4x8
        # executors 5x SLOWER than 1x8 until capped). Tell each JVM how
        # many cores it actually owns.
        try:
            cores = master.split("[")[1].split(",")[1].strip()
            builder = builder.config(
                "spark.executor.extraJavaOptions", f"-XX:ActiveProcessorCount={cores}"
            )
        except (IndexError, ValueError):
            pass
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextmanager
def job_description(spark: SparkSession, text: str):
    """Name the Spark jobs the calling thread starts inside the block
    (``setJobDescription``), then restore the caller's description; the
    caller's job group is left alone."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)
