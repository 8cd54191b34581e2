"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100TB design point, scaled down to local mode:
AQE on (runtime re-plan + skew-join splitting + partition coalescing),
Arrow for every JVM<->Python boundary, explicit shuffle-partition sizing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "dupdetect",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    if shuffle_partitions is None:
        # ~2x task slots: enough parallelism without tiny-partition overhead
        # (a real cluster submit would set this per executor count).
        shuffle_partitions = max(2 * cores, 8)

    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if not local_dir:
        # tmpfs shuffle dirs when RAM allows: local-mode shuffles to a slow
        # /tmp disk serialize otherwise (a real cluster sets its own dirs)
        local_dir = "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else None
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Let the planner pick shuffled-hash over sort-merge when its size
        # conditions hold (guide §3.1): skips the per-partition sorts on
        # the detector verify/label joins — measured ~5-10% off every
        # join-heavy query at sf1.0, no query slower. Scale-safe: this is
        # a PREFERENCE, not a hint — the planner still requires the build
        # side to fit its local-hash-map bound, so large production joins
        # keep sort-merge.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # Spark 4.1: Union.rewriteConstraints intermittently throws
        # "key not found: <attr>" when unioning self-join branches
        # (constraint refs outside the child's output map). Constraint
        # propagation only infers extra IsNotNull/filter predicates, which
        # this workload doesn't depend on — disable it.
        .config("spark.sql.constraintPropagation.enabled", "false")
        # the Python UDF workers import this package too: put its root on
        # their path, so a script started from any directory can sign
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
