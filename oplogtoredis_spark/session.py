"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what we'd set cluster-side: AQE on (runtime
re-planning + skew-join splitting), Arrow on (all pandas UDF transfer is
Arrow-batched), explicit shuffle partitioning, and file listing on the
driver for every path count the engine plans (lake reads over manifest-named
bucket dirs, admission-bounded stream batches). On a real 1000-executor
cluster the same builder is used by spark-submit; only master/memory differ.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import shutil
import tempfile

from pyspark.sql import SparkSession


#: per-process directory holding the package zip; removed at exit
_PKG_DIR: str | None = None

#: AQE's reduce-width floor (deprecated in Spark 4.1, still honoured)
_FLOOR_KEY = "spark.sql.adaptive.coalescePartitions.minPartitionNum"

#: Spark lists more root paths than this conf's value with a distributed
#: listing job instead of on the driver
LISTING_THRESHOLD_KEY = "spark.sql.sources.parallelPartitionDiscovery.threshold"

#: The session's listing threshold: above any path count the engine plans.
#: A lake read names at most its manifest's bucket and delta dirs (8192
#: buckets at the largest sizing lake.py describes) and a stream batch at
#: most its maxFilesPerTrigger files.
DRIVER_LISTING_PATHS = 1 << 16


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executor Python workers (pandas UDFs pickle by
    module reference). Local equivalent of `spark-submit --py-files`.

    The zip goes into one private directory per process, removed when the
    process exits: a shared fixed name in the temp dir outlived every
    session, and Spark refuses a second file of the same name from another
    path, so every call in a process reuses the same directory (made again
    at the same path if something removed it meanwhile)."""
    global _PKG_DIR
    if _PKG_DIR is None:
        _PKG_DIR = tempfile.mkdtemp(prefix="oplogtoredis_spark_pkg-")
        atexit.register(shutil.rmtree, _PKG_DIR, ignore_errors=True)
    else:
        os.makedirs(_PKG_DIR, exist_ok=True)
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    parent = os.path.dirname(pkg_dir)
    zip_base = os.path.join(_PKG_DIR, "oplogtoredis_spark_pkg")
    zip_path = shutil.make_archive(zip_base, "zip", root_dir=parent, base_dir="oplogtoredis_spark")
    spark.sparkContext.addPyFile(zip_path)


def get_spark(
    app_name: str = "oplogtoredis-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("OTR_SPARK_MASTER", "local[*]")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("OTR_SPARK_SHUFFLE_PARTITIONS", "32")
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # shuffle/spill scratch: prefer tmpfs in this sandbox (shared slow
        # disk); clusters point this at local NVMe via spark-defaults
        .config(
            "spark.local.dir",
            os.environ.get(
                "OTR_SPARK_LOCAL_DIR",
                "/dev/shm/spark-tmp" if os.path.isdir("/dev/shm") else "/tmp",
            ),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # cached subtrees otherwise pin their exchanges at the static
        # shuffle-partition count (AQE refuses to re-plan them,
        # SPARK-35332 default): the epoch-driven operators persist small
        # per-epoch frames, and every post-persist stage then ran at the
        # full static width regardless of data size — pure task-launch
        # overhead on MB-scale epochs. Letting AQE re-plan cached output
        # partitioning is value-neutral (physical layout only).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        # No scan-split floor is set: Spark's default floor
        # (spark.sql.files.minPartitionNum) is defaultParallelism, so a
        # small file set packs into about one task per core while a large
        # one still splits at 128 MB. The shuffle-partition count (32) used
        # as the floor before planned one task per small file: on 4 cores a
        # 15k-event catch-up epoch ran 40 map tasks (8 batch files plus 32
        # bucket files) and a 48-file live epoch 48 discovery tasks, each
        # paying task launch and deserialization for kilobytes of input.
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Every listing the engine plans runs on the driver. Past Spark's
        # default threshold of 32 root paths, building a file index starts
        # a distributed listing job whose fixed cost dwarfs listing a few
        # thousand local paths serially: a 44-48-file live epoch spent
        # 0.24-0.51 s in the stream source's getBatch that way, against
        # 8-19 ms for a 2-16-file one, and a target read over ~37 bucket
        # dirs 0.26-0.40 s. Set on the session, not around a read, so that
        # it reaches the clone a stream takes of its session at start,
        # where getBatch builds each batch's file index.
        .config(LISTING_THRESHOLD_KEY, str(DRIVER_LISTING_PATHS))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("OTR_SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # Reduce-stage parallelism floor (VERDICT r4 #2): Spark 4's
    # advisory-size-first coalescing folded the 128-partition LWW collapse
    # to 12 tasks — 1.5 ragged waves at local[8] (measured 3.6-5.0 s vs
    # 2.5 s at 38 tasks) and only 12/32 cores busy at local[32], the main
    # batch-scaling cap. Floor coalescing at 4x cores: tails balance across
    # a few waves, while small stages still coalesce (a floor is NOT the
    # small-global-advisory setting that measured 3-4x worse at local[32]
    # via thousands of tiny tasks — bench.py note). Runtime-set because the
    # right value depends on the session's actual core count.
    try:
        spark.conf.set(_FLOOR_KEY, str(4 * spark.sparkContext.defaultParallelism))
    except Exception:
        pass  # conf removed in a future Spark: coalescing stays default
    # AQE coalesce floor history (the minPartitionNum floor set above is
    # deprecated but still honoured by Spark 4.1: with minPartitionSize at
    # 1k, a 64-partition reduce on local[4] ran 64 tasks with the floor at
    # 64, 19 at 16 and 5 with it unset): r6.1 lowered minPartitionSize to
    # 256k so small-bytes/CPU-heavy JVM stages (the embedding pair-verify's
    # 77.7 M interpreted cosines coalesced onto 4 of 32 cores) kept
    # ~defaultParallelism tasks. r6.2 moved those pair-verify stages into
    # vectorized kernels driven by explicitly repartitioned work-unit
    # frames (repartition(n) is never AQE-coalesced), after which the 256k
    # floor only ADDED task-launch overhead to the many small epoch jobs of
    # the lake/incremental-view family — measured at sf1.0/local[32]:
    # index_view_lake 13.9 -> 9.4 s, lake_point_lookup 6.5 -> 5.4 s,
    # schema_evolution 5.0 -> 4.4 s going back to the 1m default. Kept
    # parameterized for clusters whose task-launch cost differs.
    spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.minPartitionSize",
        os.environ.get("OTR_AQE_MIN_PARTITION_SIZE", "1m"),
    )
    _ship_package(spark)
    return spark


@contextlib.contextmanager
def scoped_shuffle_partitions(spark: SparkSession, n: int):
    """Run the enclosed jobs at reduce width ``n``: sets
    ``spark.sql.shuffle.partitions`` and the coalescing floor to ``n``, and
    restores both on exit, also when the body raises. Does nothing when
    ``n`` is not below the session's width, so large data keeps the
    session's full parallelism.

    Data-scaled epoch width: MB-scale epoch and fixture jobs at the
    session's analytics reduce width (128 at bench scale) are pure
    task-launch overhead — an incremental-corpus epoch spent ~13 s
    scheduling near-empty tasks at sf0.1/local[32] against 1.8 s for the
    full batch recompute. Callers derive ``n`` from the data (parquet
    footer row counts, feed size) or the core count, never a constant. A
    fresh stream checkpoint pins its state-store partition count from this
    setting, so a stream started inside the scope keeps ``n`` state
    partitions. Scope only eager work: a lazy plan built inside runs at
    whatever width is set when it executes."""
    key = "spark.sql.shuffle.partitions"
    ceil = spark.conf.get(key)
    if n >= int(ceil):
        yield
        return
    old_floor = spark.conf.get(_FLOOR_KEY, None)
    spark.conf.set(key, str(n))
    spark.conf.set(_FLOOR_KEY, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, ceil)
        if old_floor is None:
            spark.conf.unset(_FLOOR_KEY)
        else:
            spark.conf.set(_FLOOR_KEY, old_floor)
