"""SparkSession construction tuned for scale.

The reference builds a bare 4g/4g local session
(``/root/reference/components/process_data.py:19-25``). We instead enable
AQE (runtime re-planning, skew-join splitting, partition coalescing),
Arrow for the Pandas-UDF paths, and a UTC session timezone so that
date/time functions are deterministic and oracle-comparable.

On a real cluster the same builder is used with ``master`` unset (taken
from spark-submit) — nothing here is local-mode specific except the
default master.

The session also registers a small JVM helper for ``file://``
(``jvm/localfs.jar``, Java source in ``jvm/src``).  Without Hadoop's
native library — Spark ships none — Hadoop's local
filesystem forks a ``chmod`` process for every file it creates and
every directory it makes, and a ``readlink`` process for every
FileContext rename.  Streaming drains write offset and commit logs,
state-store deltas and Parquet sinks on every trigger, so those forks
set the per-trigger floor (about 30 ms per log write).  The helper
makes the same changes through system calls; checksums, commit
protocols, file layout and mode bits are Hadoop's own.  A session
started without it (an external driver's plain session) keeps the
stock filesystem and gets the same results, only slower.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Iterator

from pyspark import SparkContext
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

#: Confs the engine depends on that a live session also accepts.
#: ``build_session`` applies them at startup; ``__spark_entry__._tune``
#: applies them again on every table load, because the external driver
#: runs the queries in its own plain SparkSession.
RUNTIME_CONF = {
    # Epoch→timestamp conversions and date_trunc independent of the host
    # timezone (oracle reproducibility).
    "spark.sql.session.timeZone": "UTC",
    # Sketch-style operators (minhash signatures, simhash votes) carry
    # 100+ agg columns per row; the default codegen.maxFields=100
    # silently drops whole-stage codegen for exactly those plans —
    # a 10-30x slowdown on the hottest path.
    "spark.sql.codegen.maxFields": "1024",
    # AQE: runtime partition coalescing + skew-join handling means the
    # static shuffle.partitions only needs to be an upper bound.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Broadcast anything under 32 MB — every dim table in the star
    # schema (region/nation/customer/supplier/part) qualifies.
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    # A bare session uses 200.  This is the BATCH upper bound only:
    # AQE coalesces batch exchanges below it.  Streaming cannot coalesce
    # state stores, so the drains (streaming/ohlcv.py:run_available_now,
    # run_processing_time) start each query at one state partition per
    # core instead; a checkpoint keeps the count it was created with.
    # On a real cluster set ≈ 2-3× total cores.
    "spark.sql.shuffle.partitions": str(DEFAULT_SHUFFLE_PARTITIONS),
    # Prefer shuffled-hash over sort-merge when the planner's size
    # conditions hold (build side < broadcastThreshold ×
    # shuffle.partitions AND ≥3× smaller than the probe side): skips
    # both sort passes.  Measured r14 A/B (OPTIMIZATION_r14.md §E —
    # within-session, order alternated per round, warm-up discarded; an
    # earlier fixed smj-before-shj order overstated the win): repeatable
    # wins exactly where a conversion happens (q119 0.88x, q83 0.92x,
    # q178 0.93x), the other 7 SMJ-heavy queries unchanged plans, ±7%
    # session noise.  The AQE
    # threshold additionally converts SMJ→SHJ at runtime when every
    # MEASURED post-shuffle partition is ≤64 MB — the size-bounded path
    # that stays safe when static estimates are wrong at scale
    # (spill-less build ≤64 MB/partition by construction); AQE
    # skew-join splitting remains on and applies to SHJ too.
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": str(
        64 * 1024 * 1024
    ),
}


#: JVM launch confs: the no-fork local filesystem's jar on the driver and
#: executor classpaths, and the two Hadoop entry points (``FileSystem``
#: and ``FileContext``) that register it for ``file://``.  They only take
#: effect in a session that starts its JVM.  Executors find the jar at
#: the driver's path, as their Python workers find the package
#: (``put_package_on_worker_path``).
LOCAL_FS_JAR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm", "localfs.jar"
)
LAUNCH_CONF = {
    "spark.driver.extraClassPath": LOCAL_FS_JAR,
    "spark.executor.extraClassPath": LOCAL_FS_JAR,
    "spark.hadoop.fs.file.impl":
        "btc_usdt_etl_pipeline_spark.jvm.NoForkLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl":
        "btc_usdt_etl_pipeline_spark.jvm.NoForkLocalFs",
}


def put_package_on_worker_path(sc: SparkContext) -> None:
    """Let Python workers import this package whatever the process cwd.

    A worker starts as ``python -m pyspark.daemon`` and so finds the
    package only when the cwd is the repository root; from anywhere
    else every Python UDF fails with ``ModuleNotFoundError``.  Adding
    the package's parent directory to ``sc.environment`` ships it to
    the workers of every Python function built afterwards.  Later calls
    find it there and change nothing, so this happens once per
    SparkContext.
    """
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = sc.environment.get("PYTHONPATH", "")
    if root not in paths.split(os.pathsep):
        sc.environment["PYTHONPATH"] = os.pathsep.join(
            p for p in (paths, root) if p
        )


@contextmanager
def job_description(sc: SparkContext, text: str) -> Iterator[None]:
    """Run the block's Spark jobs under ``spark.job.description`` =
    ``text``, then restore the caller's description (or its absence).
    The job group, if any, is left alone, so a caller that counts jobs
    per group still sees them."""
    prev = sc.getLocalProperty("spark.job.description")
    sc.setLocalProperty("spark.job.description", text)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)


def build_session(
    app_name: str = "btc-usdt-etl-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with scale-appropriate defaults.

    - AQE on: runtime partition coalescing + skew-join handling means the
      static ``shuffle.partitions`` only needs to be an upper bound.
    - Arrow on: every Pandas-UDF / ``mapInPandas`` operator transfers
      columnar batches instead of pickled rows.
    - UTC session timezone: epoch→timestamp conversions and date_trunc are
      independent of the host timezone (oracle reproducibility).
    - ``LAUNCH_CONF``: the no-fork ``file://`` filesystem.  A classpath
      the caller passes in ``extra_conf`` keeps its entries, with the
      jar appended.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    builder = (
        builder.config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    builder = builder.master(master or f"local[{cpus}]")
    extra_conf = extra_conf or {}
    conf = {**LAUNCH_CONF, **extra_conf}
    for k in ("spark.driver.extraClassPath", "spark.executor.extraClassPath"):
        if extra_conf.get(k):
            conf[k] = os.pathsep.join((extra_conf[k], LOCAL_FS_JAR))
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    put_package_on_worker_path(spark.sparkContext)
    return spark
