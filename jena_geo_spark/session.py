"""SparkSession builder with engine defaults.

Scale posture: AQE on (runtime skew-join splitting + partition coalescing),
Arrow enabled for all pandas UDF exchange, shuffle partitions sized by env.
On a real cluster these come from spark-submit conf; the builder only sets
what local runs need.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "jena-geo-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # Spark 4.1's checksum checkpoint-file writer can deadlock its
        # awaitResult on local-fs state stores (observed with
        # applyInPandasWithState commits in this sandbox); corruption
        # detection for checkpoints is a durable-storage concern — real
        # clusters re-enable it on HDFS/S3
        .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
        # RAM-backed shuffle dir: the sandbox's virtual disk adds large,
        # core-count-independent variance to shuffle writes; a real cluster
        # has local NVMe per executor (override with SPARK_GRAFT_LOCAL_DIR)
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local"),
        )
        # spark.sql.files.maxPartitionBytes is deliberately left at Spark's
        # default: the split size is then min(128 MiB, max(openCost, total
        # bytes / defaultParallelism)), about one split per core for a
        # single file and the usual 128 MiB once data is large.  A fixed
        # small split is slower: each Python (Arrow/pandas UDF) task has a
        # fixed cost of ~100 ms on a reused worker, so at local[4] 25
        # four-row tasks through a no-op Arrow UDF take 0.6-1.0 s against
        # 0.3 s for 4, and 2 MiB splits ran the image verify UDF over a
        # 52 MB file in ~7 waves instead of one
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
