"""SparkSession factory tuned for this engine.

Design notes (100 TB posture):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
  dynamic broadcast decisions replace hand-tuned batch sizes (the reference
  hand-batches 100k-row inserts, azfunctions/InputBlobTrigger/__init__.py:20 —
  obsolete under Spark's partitioned writers).
- Arrow on: every pandas_udf / mapInPandas boundary is Arrow-batched.
- Session timezone pinned to UTC so timestamp arithmetic is deterministic and
  matches the DuckDB oracle (naive timestamps treated as UTC).
- ``spark.sql.shuffle.partitions`` defaults to 2x local cores here; on a real
  cluster AQE coalescing makes the static number mostly moot — set it to
  ~2-3x total executor cores.
- ``spark.sql.codegen.cache.maxEntries`` = 4096 (Spark's default is 100).
  The cache maps generated source to compiled classes, LRU-evicted. The
  engine reruns the same plan shapes in one long-lived process: one pass of
  the 16 LLM data-prep queries compiles ~400-470 classes, one ingested
  NetCDF file ~90-110. At 100 entries every pass evicts the previous one and
  pays Janino again (~400 classes per later pass, ~85-110 per later file,
  new or re-uploaded); at 4096 a later pass compiles 0-6 and, once the
  first few files have run, a later file 0-4 (measured with
  ``CodegenMetrics`` on a 4-core host). Each engine workload's working set
  is a few hundred classes, an order of magnitude below the cap. The whole
  test suite, one session sweeping the full query registry, compiles ~5.6k
  distinct classes, so it does evict at 4096: ~80 recompiles per run.
  The cache does not cost memory on balance: after three data-prep passes
  JVM Metaspace read 174 MB at 4096 vs 183 MB at 100, because a small
  cache keeps minting classes that must later be collected. The conf is
  static (read when the SparkContext starts); override it like any default,
  e.g. ``get_spark(extra_conf={"spark.sql.codegen.cache.maxEntries": "100"})``.
- ``spark.driver.memory`` defaults to half the host's physical memory. In
  local mode the driver JVM is also every executor, and it shares the host
  with the Python workers and the OS page cache; a fixed size can exceed a
  small host outright. ``SPARK_DRIVER_MEMORY`` overrides it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

CODEGEN_CACHE_ENTRIES = 4096  # see the design notes above


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return max(1, int(cpus))
    return os.cpu_count() or 4


def default_driver_memory() -> str:
    """Half the host's physical memory, in Spark's ``<n>m`` form."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{phys // 2 // 2**20}m"


def get_spark(
    app_name: str = "icenetetl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the session with engine defaults applied."""
    cores = default_parallelism()
    if master is None:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(8, 2 * cores)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", default_driver_memory()),
        )
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
