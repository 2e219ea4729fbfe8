"""SparkSession factory.

Spark-first replacement for the reference's session creation
(``flows_spark/config_spark.py:37-58``) minus its per-stage cold starts,
remote ``spark.jars.packages`` resolution and Windows hacks — those
accounted for most of the reference's 118 s Spark wall time (BASELINE.md).

One shared session per process; AQE enabled so joins/skew re-plan at
runtime; session timezone pinned to UTC so timestamp semantics match the
DuckDB oracle and survive cluster-node TZ drift.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# Local test parallelism. On a real cluster these come from spark-submit /
# cluster conf; shuffle.partitions is deliberately *not* hardcoded to a
# cluster-scale value because AQE coalesces post-shuffle partitions down
# from the initial number at runtime.
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Driver heap default: a share of physical memory, capped. In local mode
# the driver JVM also runs the executors, and Python workers (Arrow
# batches, mapInPandas) plus JVM off-heap memory live outside the heap, so
# a heap sized near (or past) physical memory gets the process OOM-killed
# instead of spilling. SPARK_GRAFT_DRIVER_MEM overrides the default.
_DRIVER_MEM_CAP_GB = 48


def default_driver_memory(meminfo: str | None = None) -> str:
    """``spark.driver.memory`` default: 40% of the host's ``MemTotal`` in
    whole GiB (at least 1g), capped at 48g — 6g on a 15.7 GiB host.
    ``meminfo`` is ``/proc/meminfo`` text, read from the host when None;
    where the host size is unknown (no ``/proc/meminfo``) the cap is
    used."""
    if meminfo is None:
        try:
            with open("/proc/meminfo", encoding="ascii") as f:
                meminfo = f.read()
        except OSError:
            meminfo = ""
    m = re.search(r"^MemTotal:\s+(\d+)\s*kB", meminfo, re.M)
    if m is None:
        return f"{_DRIVER_MEM_CAP_GB}g"
    gb = int(m.group(1)) * 2 // 5 // (1024 * 1024)  # 40% of the kB total
    return f"{max(1, min(_DRIVER_MEM_CAP_GB, gb))}g"


def get_spark(app_name: str = "big_data_elt_pipeline_spark") -> SparkSession:
    """Create (or return) the shared SparkSession.

    Settings that matter at 100 TB and cost nothing locally:
    - AQE + coalescePartitions + skewJoin: runtime re-planning fixes both
      over-partitioned small shuffles and skewed join keys.
    - Arrow for any pandas-UDF exchange (vectorized, not per-row pickle).
    - ``parquet.aggregatePushdown`` lets MIN/MAX/COUNT run on footer stats.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", _DEFAULT_CPUS)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Python DataSource (docstore) readers implement pushFilters;
        # Spark 4.1 refuses them unless this runtime switch is on
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # events.parquet stores TIMESTAMP(NANOS); Spark has no nanos type —
        # read as long and convert via timestamp_micros (sources/tpch.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.default.parallelism", cpus)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", "/tmp/spark_graft_warehouse")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
    )
    if not os.environ.get("SPARK_MASTER_URL"):
        builder = builder.master(f"local[{cpus}]")
    else:
        builder = builder.master(os.environ["SPARK_MASTER_URL"])
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
