"""SparkSession factory with scale-conscious defaults.

Defaults are tuned so the same logical plans that pass correctness at
sf0.01 locally would survive a 1000-executor cluster at 100 TB:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing).
- ``spark.sql.shuffle.partitions`` sized for the local test harness via
  env; on a real cluster this is superseded by AQE's coalescing given a
  large initial number.
- Arrow enabled so the few Pandas-UDF code paths (similarity search,
  multimodal decode plumbing) batch-transfer instead of pickling rows.
- Broadcast threshold left at default: dimension tables (region, nation,
  supplier, the vertex-label dims) are broadcast automatically; big
  fact-fact joins go sort-merge with AQE skew handling.
- PySpark's per-call call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled=false``): with it on,
  every ``F.*``/``Column`` call makes about five extra py4j round trips
  to record its Python call site: building MinHash's 16 aggregate
  columns took 170-320 ms with it and 48 ms without (4-core VM,
  local[1], median of 15). Errors still raise with their
  Python traceback; only the call site in an error's
  ``DataFrameQueryContext`` is lost.
- Spark's generated-class cache (``spark.sql.codegen.cache.maxEntries``)
  sized to 4096 instead of Spark's 100, so every generated class
  (whole-stage iterators, projections, predicates, orderings) compiles
  once per session instead of once per use. At 100 the cache evicts a
  class before its next use: one perfbench ``query_mix`` pass needs
  about 136 distinct classes, and each warm pass recompiled all of
  them through Janino (0 per warm pass at 4096). A cold sweep of the
  whole registry at sf0.01 needs 2,996-3,028 distinct classes; a warm
  sweep recompiled 4,255-4,257 classes at the default size and 86-106
  at 4096 or with no cap (those left generate different code per run).
  4096 holds that working set with room to spare. Cost, measured on
  the registry sweep: 21-24 MB more metaspace (190-197 MB ->
  211-221 MB), no growth of the heap after GC. The cache is one per JVM
  and its size a static conf, so it holds only if this session starts
  the SparkContext.
- Reliable checkpoints cleaned up with their RDD
  (``spark.cleaner.referenceTracking.cleanCheckpoints=true``): under
  ``SPARK_GRAFT_RELIABLE_PIN=1`` every pin writes a checkpoint dir,
  and with Spark's default (off) nothing ever removes one, so one
  oracle sweep left 730 files (9.9 MB) behind. With it on, Spark's
  context cleaner deletes a pin's files once the JVM collects the
  pinned RDD. Like the codegen cache it is read when the SparkContext
  starts.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")
# Scale-adaptive default (VERDICT r12 item 2): one initial shuffle
# partition per core, explicit env override wins. A constant 32 was a
# local[32] tune — at 8 cores it spent scheduling overhead on 4x more
# tasks than slots, and on a real cluster the initial number should
# track total cores (AQE coalescing then sizes the actual partitions
# by bytes either way). At the harness default CPUS=32 this resolves
# to the same 32 every prior round ran, so bench comparability holds.
_SHUFFLE_ENV = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
DEFAULT_SHUFFLE_PARTITIONS = (
    int(_SHUFFLE_ENV)
    if _SHUFFLE_ENV
    else (int(DEFAULT_CPUS) if DEFAULT_CPUS.isdigit() else 32)
)


def get_spark(
    app_name: str = "github-miner-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    master = master or f"local[{DEFAULT_CPUS}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # the events table stores parquet TIMESTAMP(NANOS); read as long
        # and convert (see io.tables) — Spark has no ns timestamp type
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local-mode niceties; harmless on a cluster
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def compile_count(spark: SparkSession) -> int:
    """Generated classes Janino has compiled in this JVM so far: a
    delta of 0 over a rerun means every class came from the cache."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()
