"""SparkSession factory with the engine's standard configuration.

Local-mode defaults mirror what a 1000-executor deployment would set per
executor: AQE on (runtime skew-join + partition coalescing), UTC session
timezone (the reference parses dates as UTC, ParserPet911.fs:54-55), Arrow
enabled for pandas UDFs.  `spark.sql.shuffle.partitions` is sized to cores
locally; on a real cluster leave it to AQE's coalescing with a high initial
value.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _export_package_path() -> None:
    """Make `crawler_spark` importable in executor Python workers no matter
    where the driver script runs from (local mode inherits the driver env;
    on a cluster use spark-submit --py-files instead)."""
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_parent}{os.pathsep}{existing}" if existing else pkg_parent
        )


def get_spark(app_name: str = "crawler-spark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    _export_package_path()
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or cores
    # SPARK_GRAFT_MASTER overrides the master URL — used by the scaling
    # evidence to run `local-cluster[n,cores,mem]` (separate executor JVMs,
    # each with its OWN Python worker pool, the closest sandbox analog of
    # N real executors); default stays single-JVM local[cores]
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # zstd beat snappy in an interleaved A/B on the crawl job (4/4
        # adjacent pairs, ~3% wall — BENCH.md §19.3) and writes markedly
        # smaller snapshots; at 100 TB the storage/IO saving is the
        # bigger term.  Override with SPARK_GRAFT_PARQUET_CODEC.
        .config(
            "spark.sql.parquet.compression.codec",
            os.environ.get("SPARK_GRAFT_PARQUET_CODEC", "zstd"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # local-cluster mode: executors request spark.executor.memory (1g
        # default!) no matter how big the worker is — size the request to
        # the worker capacity or every cluster-mode executor runs on 1 GB
        .config(
            "spark.executor.memory",
            os.environ.get("SPARK_GRAFT_EXECUTOR_MEM", "1g"),
        )
        .config("spark.ui.enabled", "false")
        # generated-code cache: one crawl wave's plans compile ~150 distinct
        # classes, so Spark's default of 100 evicted the last wave's classes
        # and every wave recompiled them (Janino, then the JVM's JIT anew)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # catalog home for bucketed tables (write_pages_bucketed) — session
        # catalog metadata is in-memory; only table data lands here
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(tempfile.gettempdir(), "crawler_spark_warehouse"),
            ),
        )
    )
    return builder.getOrCreate()
