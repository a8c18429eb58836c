"""SparkSession factory tuned for the engine.

Local-mode knobs follow the public Spark tuning guidance: shuffle
partitions ~ cores, AQE on (coalesce + skew-join), Arrow on for the
pandas-UDF normalize/parse kernels, UTC session TZ so results compare
bit-for-bit against the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "nifi_daffodil_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    # numpy kernels (SRP pair gen, ANN matmuls, media decode) run as MANY
    # parallel tasks; one BLAS thread per task avoids c_tasks x c_blas
    # oversubscription. Must be set before the JVM (and its python worker
    # daemon) starts; setdefault respects an operator's explicit choice.
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger Arrow batches = fewer flushes over the Python-worker socket
        # (the normalize UDF's only per-batch cost); 64k rows of ~600 B text
        # is ~40 MB per batch — well inside executor memory at any scale
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # wider file buffers = fewer write syscalls per shuffle/spill byte;
        # matters on metadata/syscall-slow hosts and is harmless elsewhere
        .config("spark.shuffle.file.buffer", "1m")
        .config("spark.shuffle.localDisk.file.output.buffer", "4m")
        .config("spark.shuffle.spill.diskWriteBufferSize", "1m")
        .config("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # split inputs for parallelism: WAL segments are tens of MB, and a
        # micro-batch must fan out across all cores even when its files are
        # few — 16m splits + tiny open cost keep the scan stage wide
        .config("spark.sql.files.maxPartitionBytes", "16777216")
        .config("spark.sql.files.openCostInBytes", "1048576")
        # epoch caches are ephemeral (dropped after the MERGE): compressing
        # them costs more than the memory it saves
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
        .config("spark.locality.wait", "0s")
        # commit with direct task-level renames and no _SUCCESS/_metadata:
        # safe for our sinks (a snapshot dir is invisible until the manifest
        # swap) and much cheaper on metadata-slow filesystems
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .config("spark.hadoop.parquet.summary.metadata.level", "NONE")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
