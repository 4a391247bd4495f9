"""SparkSession factory with deterministic, scale-minded defaults.

All engine entry points go through :func:`get_spark` so tests, the bench
harness, and `spark-submit` jobs share one configuration story:

- **UTC session timezone** — epoch/timestamp semantics must be identical to
  the DuckDB oracle and to the reference's tz-normalized epochs
  (reference: lib/embulk/input/service/base_service.rb:43-51).
- **AQE on** (coalesce partitions + skew-join splitting) — the runtime
  half of the skew story. ``operators.merge`` does no salting: the batch
  is first reduced to one winner per key by a partial (map-side)
  max-of-struct aggregation, so a hot key crosses that shuffle as one row
  per map task; the MERGE itself is ONE exchange, partitioned by storage
  bucket.
- **Arrow on** — every Python-executed transform is a vectorized
  pandas/Arrow UDF (input_hint: "no per-row Python").
- **Shuffle partitions scale with cores** — the same job must scale
  N -> 4N cores with >=0.8 efficiency; a fixed 200 would serialize small
  stages at low core counts and under-split at high ones.
- **No file-listing job on a lake read** — a lake snapshot names every
  leaf file, but a parquet read of more than
  ``parallelPartitionDiscovery.threshold`` explicit paths (default 32)
  first runs a Spark job of one task per path just to stat them. The
  threshold is raised to 1024 so the driver stats them itself.
- **Small lake writes skip Spark's file writer** — a lake commit whose
  input is at most ``DRIVER_WRITE_BYTES`` is collected as Arrow and
  written by the driver (``sources.lake``); see the constant for why.
- **A codegen cache that holds the engine's working set** — a small
  store call does milliseconds of work, so compiling its generated code
  is a large share of its fixed cost. One store round plus ``maintain``
  needs about 130 classes; at Spark's default of 100 each call evicted
  what the next one needed and recompiled 59, 23 and 38 classes per
  dedup ``add_batch``, ANN ``add_batch`` and ``topk`` (526, 160 and
  251 ms). At ``CODEGEN_CACHE_ENTRIES`` a steady round compiles 4, 2
  and 2 (``tools/compile_cost.py``, seed 1, local[3], rounds 2-7).
- **No Python call-site capture** —
  ``spark.python.sql.dataFrameDebugging.enabled=false``. With it on (the
  PySpark 4 default) every ``functions.*`` or ``Column`` call walks the
  Python stack and makes extra py4j round trips to record its call
  site: building the dedup store's 24 signature hashes and 8 band keys
  took a median 330 ms with it on and 115 ms with it off (4 vCPUs). What
  turning it off loses is the Python file and line in DataFrame error
  messages; the JVM stack trace and the error itself are unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "get_spark", "default_parallelism", "estimated_bytes", "BYTES_PER_TASK",
    "DRIVER_WRITE_BYTES", "CODEGEN_CACHE_ENTRIES",
]

# Input bytes per task of a sized exchange: the measured break-even of a
# round-robin exchange (local[3]; shingles + 24 min-hashes per document):
# a 65 KB, 500-document parquet runs as fast on one partition as on eight
# (0.72 s vs 0.68 s), a 595 KB one takes 1.05 s on one and 0.76 s on
# three. ``operators.dedup._rebalance`` widens scans by it,
# ``LakeTable.compact`` sizes its rewrite by it and ``lake_buckets_of``
# aggregates a frame under it in one task.
BYTES_PER_TASK = 128 * 1024

# Largest lake write the driver stages itself (``df.toArrow()`` then one
# pyarrow file per bucket) instead of Spark's partitioned file writer.
# Without Hadoop's native library, Spark's local file system forks a
# ``chmod`` for every file, checksum file and directory it creates:
# about 8 forks per written file. ``tools/write_cost.py --buckets 32
# --rows 25`` (4 vCPUs, local[3], Hadoop native library not loaded):
#   spark   0.865 s  151 forks  18 files  2 jobs
#   driver  0.061 s    1 fork   18 files  1 job
# At 1 MiB every store write of a 25-row batch takes the driver path; at
# 256 KiB an ANN vectors append (optimizer estimate 405 KB for about
# 13 KB of rows) and a sigs compaction stayed on Spark. A 2k-event
# replay commit (4.4 MB) stays on Spark.
DRIVER_WRITE_BYTES = 1024 * 1024

# Generated classes Spark keeps compiled (``spark.sql.codegen.cache.
# maxEntries``, default 100, evicted least-recently-used first): the
# smallest power of two at least twice the engine's working set. With an
# unbounded cache one ``perfbench`` run compiles 198 distinct classes on
# ``store_trickle`` and 155 on ``replay_tail`` (seed 1, local[3]).
CODEGEN_CACHE_ENTRIES = 1024


def estimated_bytes(df: DataFrame) -> int:
    """The optimizer's size estimate of ``df``; plans it, runs no job."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "cdc-ingest",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for the engine.

    ``cores`` controls ``local[N]``; on a real cluster the same configs are
    passed via spark-submit and master is left alone.
    """
    cores = cores or default_parallelism()
    # 2 shuffle partitions per core: enough splits for AQE to coalesce
    # down, not so many that task overhead dominates at local scale.
    shuffle_partitions = shuffle_partitions or max(2 * cores, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
