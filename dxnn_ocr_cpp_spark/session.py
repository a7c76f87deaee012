"""SparkSession factory with the physical knobs the engine relies on.

Replaces the reference's hand-tuned threading/queue machinery
(/root/reference/src/pipeline/ocr_pipeline.cpp:346-375 — bounded queues
cap 100, 8-thread stage pool) with declarative Spark conf:
  * Arrow batch cap — the backpressure analog (X3): html blobs run
    multi-MB, so default 10k-row Arrow batches would blow memory;
  * AQE on — runtime re-plan / skew handling (X5);
  * UTC session TZ — oracle (DuckDB) comparability;
  * shuffle partitions ~ cores for local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_session(app: str = "dxnn_ocr_cpp_spark",
                  master: str | None = None,
                  # Arrow batch cap — html blobs are large (ref X3:
                  # bounded queues cap 100, ocr_pipeline.cpp:353-355).
                  # Measured on the 100k-doc corpus @16 cores:
                  # 128->512->1024 rows = 5.8k->7.5k->8.1k docs/s; 512
                  # keeps worst-case batch bytes bounded (512 x 20MB
                  # cap) while taking most of the win
                  arrow_max_records: int = 512,
                  shuffle_partitions: int | None = None,
                  extra_conf: dict | None = None) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or \
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    cores = 32
    b = SparkSession.builder.master(master).appName(app)
    if master.startswith("local["):
        # local[N] or local[N,F] (F = task retries); N may be *
        inner = master[6:-1].split(",")[0]
        cores = os.cpu_count() if inner == "*" else int(inner)
        # Python workers do not see the driver's sys.path: put the
        # package's parent first on theirs, so a tool started from any
        # directory runs its UDFs (extra_conf may still override)
        b = b.config("spark.executorEnv.PYTHONPATH", os.pathsep.join(
            p for p in (_PACKAGE_PARENT, os.environ.get("PYTHONPATH")) if p))
    b = (b
         .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cores, 8)))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_max_records))
         # bytes-based batch backpressure (Spark 4): even if 512 rows of
         # near-cap 20MB html blobs land together, batches split at 32MB
         .config("spark.sql.execution.arrow.maxBytesPerBatch", str(32 << 20))
         .config("spark.sql.files.maxPartitionBytes", "128m")
         .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
         # Throughput GC for a batch engine: the Arrow hop allocates
         # MB-scale short-lived byte[] per batch, and G1's concurrent
         # machinery (refinement/marking threads stealing mutator
         # cycles inside the executor's core budget) collapses under it
         # at high task counts — measured on the 600k-doc extraction
         # corpus at pinned local[32]: 7.0-10.7k docs/s under default
         # G1 vs 16.3-21.6k under ParallelGC (~2.3x, and far lower
         # run-to-run variance); pinned local[8] gains ~4%. A stop-the-
         # world throughput collector is the right trade for ETL where
         # nothing is latency-sensitive. Set for BOTH driver (local
         # mode: all tasks live in the driver JVM) and executors (the
         # cluster deployment this engine targets); extra_conf can
         # override either key.
         .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
         .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
         .config("spark.ui.enabled", "false"))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_runtime(spark: SparkSession, arrow_max_records: int = 512) -> None:
    """Apply per-run runtime confs on an externally-provided session
    (e.g. the driver's) — only confs settable at runtime."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_max_records))
    spark.conf.set("spark.sql.execution.arrow.maxBytesPerBatch", str(32 << 20))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
