"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]``; the same configuration keys are what
you would set on a real cluster (AQE, shuffle partitions sized to the
data, Arrow for the Python boundary). Nothing here is local-mode-only.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory``: ``SPARK_GRAFT_DRIVER_MEM`` when set, else
    half the host's MemTotal, capped at 30g. 30g, NOT 32g: a >=32 GiB
    heap silently disables JVM compressed oops (doubles object-pointer
    width) — measured ~2x on the shuffle-heavy operators here. Where
    the host size cannot be read, the cap."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open(meminfo) as f:
            kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "30g"
    return f"{min(kib // 2048, 30 * 1024)}m"


def get_spark(app_name: str = "sonnerie_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    - AQE on: runtime partition coalescing + skew-join splitting matter at
      100 TB where static planning misjudges post-filter sizes.
    - ``spark.sql.shuffle.partitions`` defaults to the local core count;
      on a cluster you would size this to ~2-3x total executor cores.
    - UTC session timezone so timestamp semantics match the DuckDB oracle
      and are deployment-independent.
    - Arrow enabled: every Pandas UDF / toPandas crossing is Arrow-batched.
    """
    # Ensure Python workers can import this package regardless of the
    # driver's cwd (equivalent of shipping the package via --py-files).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_root}{os.pathsep}{pp}" if pp else pkg_root

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # testdata events.ts is parquet TIMESTAMP(NANOS): read as raw
        # nanosecond longs (exactly the engine's ts model) instead of
        # failing — Spark TimestampType is only µs precision
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # Deployment hook: SPARK_GRAFT_EXTRA_CONF is a JSON object of extra
    # Spark confs (cluster-side overrides, event-log capture for the
    # profiling tools). Applied last so it can override any default.
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    if extra:
        import json

        for k, v in json.loads(extra).items():
            builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
