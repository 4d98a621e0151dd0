"""SparkSession builder with the engine's scale defaults.

Settings chosen for the 100 TB design point (and harmless locally):

- AQE on, with skew-join splitting — runtime re-plan for residual skew the
  salted repartition doesn't catch.
- Arrow batch cap — payloads are MB-scale binaries; a 10k-row default Arrow
  batch would blow Python-worker memory.
- shuffle partitions sized to the cores; ``extract_pages`` reads this
  setting as its kernel-stage task count.  A real cluster overrides it
  via spark-submit conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """``SPARK_GRAFT_CPUS`` if set, else the cores this process may run
    on (its CPU affinity mask, not the machine's core count)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS",
                              len(os.sched_getaffinity(0))))


def build_session(app: str = "image-pdf-ocr-suite-spark",
                  master: str | None = None,
                  shuffle_partitions: int | None = None,
                  arrow_max_records: int = 2048) -> SparkSession:
    """``arrow_max_records``: Arrow batch row cap for the Python kernels.
    Small batches dominate JVM<->Python overhead (measured ~40% stage cost
    at 256 rows); size it so batch_rows x typical payload bytes stays well
    under executor Python memory (2048 x ~100 KB scans ~= 200 MB)."""
    cpus = default_cpus()
    b = (
        SparkSession.builder.appName(app)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        # zstd parquet output (guide §6): markedly smaller than snappy at
        # similar read speed — the staging/snapshot writes here land on a
        # shared spindle where bytes written are the wall (round 6)
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_max_records))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # Shuffle/spill on the RAM disk when available: the sandbox's /tmp is a
    # shared spinning resource that serializes concurrent shuffle writers
    # (a real cluster gives each executor its own local NVMe).
    if os.path.isdir("/dev/shm"):
        b = b.config("spark.local.dir", "/dev/shm/spark-local")
    return b.getOrCreate()
