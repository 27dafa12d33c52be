"""SparkSession factory tuned for the KG-construction workload.

Local-mode testing defaults; every knob is the one you would also set on a
multi-executor cluster (AQE, Arrow batch size bounded because span arrays
and embeddings make wide rows — see SURVEY.md §4.2). Three deployment
settings come from the environment (``SPARK_GRAFT_CPUS``,
``SPARK_GRAFT_LOCAL_DIR``, ``SPARK_DRIVER_MEMORY``); any other conf is
overridden through ``get_spark(extra_conf=...)``.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "knowledge_nexus_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default: the
    cores this process may run on). ``shuffle_partitions`` defaults to the
    local core count — at cluster scale this is sized to ~2-3× total
    executor cores instead. ``extra_conf`` entries override every default
    set here.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # match parallelism in local mode; never the 200 default
        n = master.split("[")[-1].rstrip("]*")
        shuffle_partitions = int(n) if n.isdigit() else cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # the corpus contains deliberate hub entities (a hot obj key owns
        # ~25% of triples); default skew thresholds (256 MiB) never fire at
        # realistic partition sizes — make AQE split skewed partitions at
        # the sizes this workload actually produces
        .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16m")
        .config("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
        # AQE sizes post-shuffle partitions by BYTES, but this workload's
        # stages are expensive per ROW (regex tokenization, md5 shingling,
        # rendered-span folds) — at byte-dense-but-row-cheap 16m targets a
        # 30 MB shuffle coalesces to 2 tasks and serializes a 32-core box.
        # 4m/1m keeps ~8-32 tasks alive on the bench corpora while still
        # merging the pathological many-tiny-partition case. On a cluster
        # whose stages ARE byte-bound, raise both through extra_conf toward
        # 64-256m (guide §2.2) — the right value tracks compute-per-byte,
        # not cluster size.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
        # the bench corpora are single-file tables whose row-group count,
        # not this setting, bounds scan parallelism (see partitioning.py);
        # 16m still splits the multi-row-group fact tables (lineitem: 6
        # row groups in one 132 MB file) across cores instead of 2 tasks.
        # At production scale with healthy 128 MB-1 GB files raise this
        # through extra_conf to 512m-1g for fewer, larger map tasks
        # (guide §6.1).
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # span arrays + embeddings are wide rows: bound Arrow batches
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        # shuffle/spill scratch on tmpfs: the sandbox's / is one virtual
        # disk whose bandwidth serializes shuffle I/O regardless of core
        # count; a real cluster stripes this across per-node local SSDs
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/knx-spark-local"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # ORDER BY + LIMIT n plans an in-memory top-K that allocates 2n
        # slots per task up front: comention_strength(top_n=10**9) took a
        # 4-core test JVM from 1 GB to 9 GB RSS and got the JVM OOM-killed
        # on a 16 GB host. Above this n Spark uses its spilling global sort
        # instead; every limit the library plans is far below it.
        .config("spark.sql.execution.topKSortFallbackThreshold", "100000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warm_python_workers(spark)
    return spark


def _warm_python_workers(spark: SparkSession) -> None:
    """Spawn the Python worker fleet (one per core) and pre-import the
    Arrow/numpy/pandas stack at SESSION BUILD instead of inside the first
    Arrow-UDF stage of a measured query. Worker processes are reused
    (spark.python.worker.reuse default), so this one tiny job moves
    ~4 s of fork+import cost (32 workers) out of whichever query happens
    to hit Python first — the same reasoning as a bench's untimed JVM/
    codegen warmup. Runs once per session: guarded so getOrCreate()
    returning an existing session doesn't re-pay it."""
    sc = spark.sparkContext
    if getattr(sc, "_knx_python_warmed", False):
        return
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _touch(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import numpy  # noqa: F401
        import pyarrow  # noqa: F401

        for s in it:
            yield s

    n = sc.defaultParallelism
    (
        spark.range(0, n * 2, 1, n)
        .select(_touch(F.col("id")).alias("id"))
        .write.format("noop").mode("overwrite").save()
    )
    sc._knx_python_warmed = True
