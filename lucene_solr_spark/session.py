"""SparkSession factory with the engine's standard configuration.

Scale notes (100 TB / 1000-executor design intent, tested on local[N]):
- AQE on: runtime coalescing + skew-join splitting for the hot-term postings
  aggregation (SURVEY.md 4.2 "skew handling").
- Arrow on: every custom stage is a pandas/Arrow UDF (no per-row Python).
- shuffle.partitions is a knob, not a constant: callers size it to the
  cluster (bench runs pass cores*4); on a real cluster this would be
  set per-job from input bytes / target partition size.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def _default_driver_mem() -> str:
    """24 GB, or half the machine's physical memory when that is less: a
    long-lived session grows toward its heap cap before it collects, so a
    cap above the RAM the box has invites the OOM killer."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(24 * 1024, half_mb)}m"


def get_spark(
    app_name: str = "lucene_solr_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falls back to
    ``local[*]``) so bench/driver runs control parallelism via env. The
    driver heap is ``$SPARK_GRAFT_DRIVER_MEM``, else the smaller of 24 GB
    and half the physical memory.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE", DEFAULT_SHUFFLE_PARTITIONS)
        )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # Coalescing is tuned for JVM relational stages (64MB advisory
        # targets). Our post-shuffle stages are pandas-UDF CPU work where
        # 64MB of packed postings is minutes of compute — coalescing them
        # below core count serializes the build (measured: scaling eff
        # 0.60 -> 0.75 from disabling it). Skew-join splitting stays on.
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
