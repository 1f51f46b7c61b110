"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the configuration below is chosen so the
same code scales to a multi-executor cluster:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing).
- Arrow on (all pandas-UDF / applyInPandas paths are Arrow-batched).
- ``spark.sql.shuffle.partitions`` sized for the local harness; on a real
  cluster this should be ~2-3x total cores (or left to AQE's coalescing
  with a high initial value).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))


def get_spark(
    app_name: str = "cdc-agents-data-stream-spark", master: str | None = None, ui: bool = False
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's tuned defaults.
    ``ui=True`` starts the Spark UI and its REST API (the profiling tools
    read stage metrics from it); it only takes effect when this call
    starts the SparkContext."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalesce floor is BYTE-based (1 MB default), which is the
        # wrong proxy for CPU-heavy narrow rows: the MinHash/LSH band and
        # verify aggregations shuffle ~2 MB of md5 work and were coalesced
        # to 2 tasks on 32 cores (paired A/B: fuzzy_entity_match 7.3 s →
        # 4.4 s at sf0.1 with the lower floor; other heavies unchanged).
        # 64 KB keeps tiny-but-hot reduce stages parallel while leaving
        # real data volumes (≥ 64 KB/partition) to coalesce exactly as
        # before — at cluster scale this floor is a no-op.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # the driver testdata stores events.ts as TIMESTAMP(NANOS); Spark has
        # no nanos timestamp — read as long and normalize in queries.base.load
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Broadcast threshold: dims like region/nation/customer at test SFs
        # are tiny; at 100 TB the big fact tables never qualify, so this is
        # safe to keep generous.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", str(ui).lower())
        # list up to 256 paths on the driver instead of in a Spark job: a
        # state-store read passes one path per bucket (64), above the
        # default threshold of 32, and the listing job cost 1 job and
        # 280-480 ms per read (64 bucket dirs, local[4] on a 4-core host);
        # listed on the driver it is 0 jobs and 20-60 ms
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "256")
        # Spark 4.1's streaming-checkpoint checksum manager deadlocks in
        # ChecksumCheckpointFileManager.awaitResult when a stateful query's
        # state-store delta files are committed/aborted on local[...] (its
        # async checksum pool starves); stateful queries hang without this.
        .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
        # The default FileContext-based checkpoint manager forks a
        # `readlink` SHELL SUBPROCESS per file-status call on the local
        # filesystem (Hadoop RawLocalFileSystem.deprecatedGetFileLinkStatus
        # → Shell.execCommand, seen in stream-thread stack dumps), putting
        # a uniform ~36 ms floor under EVERY metadata-log op — walCommit,
        # commitOffsets, and the file source's own seen-files log. The
        # FileSystem-based manager uses plain java.io status calls: the
        # 20-batch no-op micro-batch floor drops 3.0 s → 1.2 s. Rename is
        # atomic on local fs and HDFS, so the commit protocol is unchanged
        # there; object-store checkpoints (no atomic rename) should unset
        # SPARK_GRAFT_CKPT_MANAGER to fall back to the default manager.
    )
    # Shuffle/spill codec (guide §2.3): parameterised for measurement and
    # for cluster deployments (zstd trades CPU for ratio — the win is
    # network-bound shuffles, which local[N] does not have). Default is
    # Spark's own (lz4): the sf1-decade sweep of the shuffle-heaviest
    # queries (tools/ab_codec.py) measured lz4 vs zstd within noise
    # locally, so the bench keeps the comparable default.
    io_codec = os.environ.get("SPARK_GRAFT_IO_CODEC")
    if io_codec:
        builder = builder.config("spark.io.compression.codec", io_codec)
    ckpt_manager = os.environ.get(
        "SPARK_GRAFT_CKPT_MANAGER",
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager",
    )
    if ckpt_manager:  # empty string = keep Spark's default manager
        builder = builder.config(
            "spark.sql.streaming.checkpointFileManagerClass", ckpt_manager
        )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_GRAFT_NO_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    return builder.getOrCreate()
