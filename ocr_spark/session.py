"""SparkSession factory with scale-oriented defaults.

Local mode here; on a real cluster the same builder is driven by
spark-submit conf.  The Iceberg catalog config is emitted (not applied) when
the runtime jars are absent — see ``iceberg_conf`` and io.py.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app: str = "ocr_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or default_parallelism()
    shuffle_partitions = shuffle_partitions or max(cores * 2, 8)
    b = (
        SparkSession.builder.appName(app)
        .master(f"local[{cores}]")
        # AQE: runtime coalescing + skew-split — the runtime complement to our
        # explicit salted repartitioning (SURVEY.md §4).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow batches are the unit of model/kernel batching inside the
        # extraction UDFs (reference batch_size analogue,
        # document.py:102-109).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Small Arrow batches: binary payload columns cross the JVM↔Python
        # boundary far faster in ~1 MB chunks than in multi-MB ones
        # (measured 6× on the pages corpus); non-binary ops are insensitive.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "128")
        # local mode: every task is process-local; never stall a slot
        # waiting for locality.
        .config("spark.locality.wait", "0s")
        # Python workers are reused so per-worker model singletons load once
        # (reference lazy globals, ocr.py:10-34 / layout.py:103-118).
        .config("spark.python.worker.reuse", "true")
        # Keep scans honest: 128 MB input splits, pruned nested schemas.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # local mode: every executor thread lives in the driver JVM — size the
        # heap for all of them or large runs thrash GC (cluster analogue:
        # spark.executor.memory per executor).  64g, not 48g: the 17-stage
        # curate chain pins its localCheckpoint blocks for the whole job and
        # the LM tokenize's per-task split arrays spiked a 48g heap over the
        # edge intermittently (measured ~1-in-2 OOM at 60k docs × 32 threads;
        # the host has 128 GiB and bench JVMs only reserve, not commit).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "64g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def iceberg_conf(warehouse: str, catalog: str = "cc") -> dict[str, str]:
    """Iceberg catalog conf for a real cluster (jars not bundled offline).

    Usage: spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>
    plus these confs; tables partitioned by ``bucket(N, url)`` and
    ``days(warc_ts)`` so scans prune on the crawl-time axis.
    """
    return {
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
    }
