"""SparkSession factory tuned for this engine.

Defaults target the test harness (``local[$SPARK_GRAFT_CPUS]``,
single JVM) but every knob is chosen to also be the right default on a
real multi-executor cluster at ~100 TB scale:

- AQE on (runtime coalescing, skew-join splitting, dynamic join
  strategy switch) so plans self-correct at scale.
- AQE's coalescing floor (``coalescePartitions.minPartitionSize``) is
  64 KB; Spark's default is 1 MB. AQE packs a shuffle into partitions
  of ``max(floor, min(advisory size, total / defaultParallelism))``, so
  at 1 MB every shuffle under about 1 MB ran its next stage as one
  task. The benchmark's reference surface (sf0.1, 4 cores) writes
  11.9 MB of shuffle per pass from 12 map stages of under 1 KB to
  3.4 MB; at 1 MB the stages after them ran on 1 or 2 tasks
  (login_fail_detect's 1.9 MB window shuffle on one), at 64 KB every
  shuffle of 250 KB or more runs on all 4 cores. A shuffle larger than
  the floor x the parallelism (here 256 KB) is coalesced exactly as
  before, so large inputs are unchanged; a smaller one gets at most
  total / 64 KB partitions, for example 16 for 1 MB. Streaming plans
  run with AQE off, so streaming state partitioning does not change.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a
  cluster AQE's coalescing makes the initial number less critical.
- Session timezone pinned to UTC so event-time semantics (and the
  DuckDB oracle comparison) are deterministic.
- Arrow enabled: every Pandas-UDF operator ships columnar batches.
- Spark's generated-code cache (``spark.sql.codegen.cache.maxEntries``,
  100 classes by default) holds 8192. The whole query registry compiles
  2,614 distinct classes at sf0.001 and the nine monitors' tests 166;
  at the default, a second pass over the registry compiled 3,631 again.
  The bound leaves about 3x headroom because the cache's segments evict
  on their own, before the total reaches it. Metaspace after two
  registry passes (4 cores) read 217 MB with every class held and
  243 MB at the default: an evicted class is not unloaded, so
  recompiling costs more than keeping it. Every executor JVM keeps its
  own cache and compiles the same plans; the setting is a static SQL
  conf, so it reaches them through the session's conf.
- Generated classes are not named after their codegen stage
  (``spark.sql.codegen.useIdInClassName`` false; Spark's default puts
  the stage id in the name). The id differs between two runs of the
  same plan, so with it each run compiled renamed copies of classes
  the cache already held: a second sf0.001 pass over the registry
  compiled 125 classes, kmv_set_cardinality 10 of them on its second
  run. Without it (4 cores) the first pass compiled 2,144 classes
  against 2,606, because identical code in different stages shares one
  class, and the second pass 19, from source_pagerank, profile_documents
  and ann_ivf_check.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _cpus() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    except ValueError:
        return os.cpu_count() or 4


def get_spark(
    app_name: str = "flink_kafka_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults."""
    cpus = _cpus()
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", str(64 * 1024))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # testdata events.parquet stores TIMESTAMP(NANOS) which Spark has
        # no native type for; read as long and convert in tables.load()
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.sql.codegen.cache.maxEntries", "8192")
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
