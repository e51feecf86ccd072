"""SparkSession builder with the engine's execution profile.

Encodes the architecture decisions from SURVEY.md §4:
  - Arrow on (P6: the reference moves records in Vec batches; we move Arrow
    batches into pandas UDFs).
  - autoBroadcastJoinThreshold = -1 (P12: the reference is deliberately
    broadcast-free; the north rule mandates sort-merge self-joins).
  - AQE on, incl. skew-join splitting (P8 analog of work-stealing).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Upper bound of the default driver heap: measured G1 pathology at 48g
#: (canonicalize 6.6s at 16-24g vs 45s at 48g on local[32]).
_DRIVER_MEM_CAP_MB = 20 << 10


def driver_memory() -> str:
    """``spark.driver.memory`` for a local-mode session:
    ``$TRANSLINK_DRIVER_MEM`` when set, else half of the host's physical
    memory (MemTotal) capped at 20g. The other half stays with the Python
    workers, the page cache (shuffle files) and the JVM's off-heap use; a
    heap sized past the host is never backed and ends in the kernel's OOM
    killer, not a Spark error."""
    if "TRANSLINK_DRIVER_MEM" in os.environ:
        return os.environ["TRANSLINK_DRIVER_MEM"]
    try:
        total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    except (AttributeError, ValueError, OSError):  # platform does not report it
        return "4g"
    return f"{min(_DRIVER_MEM_CAP_MB, total_mb // 2)}m"


def get_spark(
    master: str | None = None,
    app_name: str = "translink",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession used by the pipeline.

    ``master`` defaults to ``local[N]`` with N from ``$SPARK_GRAFT_CPUS``
    (driver contract) or all cores. On a real cluster pass ``None`` and set
    the master through spark-submit; every other conf still applies.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is not None:
        builder = builder.master(master)

    conf = {
        # Local mode: driver JVM hosts all executor threads — size its heap
        # from the host (cluster mode ignores this in favour of
        # spark-submit's --driver-memory/--executor-memory).
        "spark.driver.memory": driver_memory(),
        # Shuffle files default to the system temp disk — measured FASTER
        # than tmpfs on this box (BENCH/BASELINE.md A/B: tmpfs shuffle
        # competes with the job for the saturated DRAM bus; the disk path
        # rides the page cache for hot reads while writeback absorbs the
        # rest). TRANSLINK_LOCAL_DIR overrides either way (cluster mode:
        # executors use their own local dirs instead).
        **(
            {"spark.local.dir": os.environ["TRANSLINK_LOCAL_DIR"]}
            if "TRANSLINK_LOCAL_DIR" in os.environ else {}
        ),
        "spark.driver.maxResultSize": "4g",
        # JDK17's default GCLockerRetryAllocationCount=2 aborts large
        # allocations that race a JNI critical section (parquet vectored IO
        # holds one) with "Retried waiting for GCLocker too often" — seen at
        # bench scale on small heaps. Retrying harder is the documented
        # mitigation and costs nothing when uncontended.
        # TRANSLINK_JAVA_OPTS appends extra JVM flags (GC experiments etc.).
        "spark.driver.extraJavaOptions":
            "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=64 "
            + os.environ.get("TRANSLINK_JAVA_OPTS", ""),
        "spark.executor.extraJavaOptions":
            "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=64 "
            + os.environ.get("TRANSLINK_JAVA_OPTS", ""),
        # Compression split, A/B-measured (PLANS.md): checkpoint parquet uses
        # zstd (cold data, written once, ~2x smaller than snappy — bytes at
        # rest and re-read are pure memory-bandwidth cost on this box, whose
        # DRAM bandwidth saturates at ~2-3 cores; BENCH/MEMBW.json). Shuffle
        # stays lz4: zstd on the hot shuffle path costs more CPU than its
        # byte savings return once all cores are busy (pair_scores sf0.1:
        # 56s zstd vs 36s lz4). Override via TRANSLINK_IO_CODEC.
        "spark.io.compression.codec": os.environ.get("TRANSLINK_IO_CODEC", "lz4"),
        "spark.sql.parquet.compression.codec": "zstd",
        # Arrow batching for pandas UDFs (P6). Batch size is probe-able via
        # TRANSLINK_ARROW_BATCH; 10000 measured best (PLANS.md — larger
        # batches won nothing and raise python-worker peak memory).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch":
            os.environ.get("TRANSLINK_ARROW_BATCH", "10000"),
        # Broadcast-free joins (P12 / north rule): the self-join sides are the
        # same table — broadcasting the build side would not survive 100x
        # scale-up, so we pin sort-merge.
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # AQE: runtime coalescing + skew-join splitting (P8).
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Deterministic timestamps across engines.
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(shuffle_partitions or 32),
        # Checkpoint tables compress well (array columns), so byte-based
        # split planning starves readers of tasks: 32MB splits keep
        # decode parallelism tracking cores rather than compressed bytes.
        "spark.sql.files.maxPartitionBytes": "33554432",
        "spark.ui.showConsoleProgress": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
