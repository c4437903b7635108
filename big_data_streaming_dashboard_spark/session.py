"""SparkSession factory.

Local test/bench sessions run on ``local[N]`` (one JVM); the same config
block is what we would ship to a 1000-executor cluster, with the two
local-only knobs (master, driver memory) supplied by the submitter.

Scale notes (100 TB target):
- AQE on: runtime coalescing of shuffle partitions + skew-join splitting
  replaces hand-tuned partition counts at any SF.
- Two partition counts with two roles:

  * ``spark.sql.adaptive.coalescePartitions.initialPartitionNum`` is the
    *batch seed* (``shuffle_partitions``, default ``max(cores, 8)``).
    With AQE coalescing on, Spark's ``SQLConf.numShufflePartitions``
    reads this key, so every batch plan and gold view shuffles into it
    and AQE coalesces down per stage. On a real cluster it should be
    ~2-3x total cores.
  * ``spark.sql.shuffle.partitions`` is the *state partition count*:
    the number of state stores each stateful streaming operator
    (dedup, window, cooldown) pins in its first checkpoint. Streaming
    runs with AQE off, so nothing coalesces them, and every store
    commits files on every trigger. It is set to the core count: one
    store per core per operator, not ``max(cores, 8)``. A query
    restarted from an existing checkpoint keeps the count it recorded.
- Checkpoint writes go through ``FileSystemBasedCheckpointFileManager``.
  Spark's default ``FileContextBasedCheckpointFileManager`` resolves
  symlinks on every atomic rename, and without the native Hadoop
  library Hadoop's local file system does that (and every permission
  set) by forking a shell: four ``readlink`` per rename plus one
  ``chmod 0644`` per created file and per checksum file, about 60 ms
  per state store per trigger on a 4-core VM (6,757 forks in one
  replay drain). The file-system manager renames with
  ``FileSystem.rename`` (``File.renameTo`` locally) and still writes
  to a temp file first, so offset/commit log and state files are
  still replaced atomically.
- Generated-code cache sized past the dashboard's working set.
  Spark memoizes each compiled whole-stage class in a Guava cache of
  ``spark.sql.codegen.cache.maxEntries`` (default 100) split into 4
  LRU segments of 25. The nine gold views compile 100-104 distinct
  classes over a process, so one segment sits at its share: depending
  on task timing in the first cycles it either settles or falls into
  a cyclic-LRU miss loop that re-compiles 23 classes every refresh
  (about +400 ms on a ~1 s cycle, in 7 of 16 benchmark processes on a
  4-core VM). At 500 entries nothing is evicted and every process
  compiles 0 classes per steady-state refresh.
- Driver heap: ``SPARK_GRAFT_DRIVER_MEM`` when set (a deployment
  setting), else half of physical memory capped at 16g. A fixed 16g
  default is more than a 15 GB VM has: there the kernel OOM-killed the
  test JVM at 15.4 GB RSS.
- Arrow enabled so the deliberate Pandas-UDF islands (alert cooldown,
  multimodal decode) batch-transfer instead of pickling row-at-a-time.
- Session timezone pinned UTC so event-time semantics match the DuckDB
  oracle and are cluster-location independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def driver_memory(env: str | None, phys_bytes: int) -> str:
    """``spark.driver.memory``: ``env`` when set, else half of
    ``phys_bytes`` (in MiB), capped at 16g."""
    if env:
        return env
    return f"{min(16 * 1024, phys_bytes // 2 // 2**20)}m"


def get_spark(
    app_name: str = "big_data_streaming_dashboard_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    n = cpus or cpu_count()
    batch_seed = shuffle_partitions or max(n, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        # state partitions: one store per core per stateful operator
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # batch plans shuffle into this seed while AQE coalescing is on
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(batch_seed),
        )
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config("spark.sql.codegen.cache.maxEntries", "500")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.driver.memory",
            driver_memory(
                os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
                os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"),
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # the driver fixtures store events.ts as TIMESTAMP(NANOS), which the
        # vectorized parquet reader rejects; read as long + convert in
        # tables.load_table (DuckDB truncates the same way -> micros parity)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # r12 (r11 verdict item 3): when a deployment selects the RocksDB
        # state-store provider (the stateful operators' documented posture
        # for large key sets), commit a per-batch CHANGELOG instead of a
        # full snapshot upload -- measured on the sf0.1 funnel/anomaly
        # operators split into 8 micro-batches: summed per-partition
        # commitTimeMs halves (11-19 s -> 5-8.5 s/batch across 32 stores),
        # wall ~0.2-0.3 s/batch better; snapshots still happen, async, at
        # the maintenance cadence. No-op under the default HDFS provider.
        # Full measurement table in PLANS.md ("State-store fixed cost").
        .config(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "true",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
