"""SparkSession factory tuned for this engine.

local-mode defaults match the sandbox (single JVM, N threads); on a real
cluster the same settings apply per-executor and the engine relies on AQE to
re-plan shuffles at runtime (skew splits, partition coalescing).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "flow_feature_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # Master resolution order: explicit arg > SPARK_GRAFT_MASTER env >
    # spark-submit-provided master > local default. Under spark-submit the
    # gateway JVM already carries the submit-time master (Python-side
    # SparkConf() does NOT expose it pre-context), so when launched that way
    # (PYSPARK_GATEWAY_PORT set) we must NOT call builder.master() at all —
    # it would override --master and a `spark-submit --master yarn job.py`
    # deploy would silently run local[32].
    master = master or os.environ.get("SPARK_GRAFT_MASTER")
    under_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    if master is None and not under_submit:
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    # local[N] -> N cores; scale shuffle partitions with parallelism, not the
    # 200 default (wrong at both ends; AQE coalesces the excess anyway).
    # When the master is submit-provided we don't know the width yet —
    # derive from defaultParallelism after the session exists instead.
    if shuffle_partitions is None and master is not None:
        if master.startswith("local["):
            inner = master[len("local["):-1]
            cores = os.cpu_count() or 8 if inner == "*" else int(inner)
        else:
            cores = 32
        shuffle_partitions = max(8, cores)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # skew-split knobs surfaced on purpose: the bucketized range join's
        # residual skew surface is a hot (entity, time-bucket) cell; AQE
        # splits any sort-merge/shuffled-hash partition larger than
        # max(thresholdInBytes, factor * median) into advisory-sized reader
        # slices (demonstrated in BENCH/RANGEJOIN.md, tools/
        # bench_rangejoin_skew.py). Defaults shown; lower both on clusters
        # whose hot cells are smaller than 256 MB.
        .config("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "5.0")
        .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256m")
        .config("spark.sql.session.timeZone", "UTC")
        # Scan-parallelism FLOOR (guide §6): a single sub-128MB parquet file
        # otherwise becomes ONE scan task, serializing the map side of every
        # first stage (measured: the zorder quantile pass halved, 2.4->1.2 s
        # at sf1.0). Scale-adaptive by construction: on a cluster whose
        # input already yields >= cores splits the floor is a no-op; it only
        # splits further when the scan would underfill the executors. The
        # lower open-cost packs many tiny files into fewer tasks instead of
        # charging 4 MB apiece.
        .config(
            "spark.sql.files.minPartitionNum",
            str(2 * (shuffle_partitions or 8)),
        )
        .config("spark.sql.files.openCostInBytes", str(256 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if master is not None:
        builder = builder.master(master)
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    # Shuffle/spill to tmpfs when available: the sandbox's virtio disk has
    # high, variable latency; a real cluster would use local NVMe.
    shm = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if shm is None and os.path.isdir("/dev/shm"):
        shm = "/dev/shm/spark-local"
    if shm:
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if shuffle_partitions is None:
        # submit-provided master: width known only now
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(max(8, spark.sparkContext.defaultParallelism)),
        )
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def owned_session(**kwargs):
    """``get_spark(**kwargs)`` for one job run, stopped when the run ends,
    by return or by raise, if the run created it. getOrCreate reuses a
    running session (e.g. pytest's), which stays running. The JVM's active
    session is per thread, so a run on a non-main thread sees none: whether
    a SparkContext exists is the process-wide answer."""
    from pyspark import SparkContext

    owns = SparkContext._active_spark_context is None
    spark = get_spark(**kwargs)
    try:
        yield spark
    finally:
        if owns:
            spark.stop()
