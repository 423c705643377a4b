"""SparkSession factory with scale-appropriate defaults.

The reference creates one tiny session per Airflow task
(``ETL-Airflow/dags/tasks/utils.py:123-156``: local[*], 1g, 2 shuffle
partitions, session TZ Asia/Kolkata).  We instead build ONE session per run
and let AQE pick runtime parallelism — the per-task-session +
materialize-through-Postgres pattern in the reference is a deployment
artifact, not engine semantics (SURVEY.md §3.1, §7.1).

All settings here are cluster-size-relative: on a real 1000-executor
cluster only ``master`` changes; AQE coalesces the 2× over-provisioned
shuffle partitions down to the data's true size, and skew-join splitting
handles hot keys without manual salting in the common case.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# UTC keeps date/timestamp semantics identical between Spark, DuckDB
# oracles, and parquet metadata.  The reference pins Asia/Kolkata
# (utils.py:139) — a config choice, not a semantic one; pipelines take an
# explicit `as_of` date instead of depending on session-local today().
_SESSION_TZ = "UTC"

# 16g covers every bench/test working set with headroom; pre-touching
# (see below) makes startup cost proportional to heap size, so bigger
# isn't better here.
_MAX_HEAP_MB = 16 * 1024
_UNIT_MB = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}


def driver_heap(override: str | None, ram_bytes: int) -> tuple[str, str]:
    """``(spark.driver.memory, spark.driver.extraJavaOptions)`` for a host
    with ``ram_bytes`` of physical RAM.  The heap is ``override`` (a
    Spark size string such as ``2g``; a bare number means MiB) when
    given, else about 60% of RAM capped at 16g.  The heap is pinned and
    pre-touched only when it fits in RAM: pre-touching a larger heap
    keeps the JVM from starting."""
    if override:
        spec = override.strip().lower().removesuffix("b")
        unit = _UNIT_MB.get(spec[-1])
        mb = int(float(spec[:-1]) * unit) if unit else int(spec)
    else:
        mb = min(int(ram_bytes * 0.6) >> 20, _MAX_HEAP_MB)
    opts = f"-Xms{mb}m -XX:+AlwaysPreTouch" if mb << 20 < ram_bytes else ""
    return f"{mb}m", opts


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "meta-morph-spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) the engine session.

    AQE on: runtime coalescing of shuffle partitions, skew-join
    splitting, and dynamic join-strategy switching — this is the
    scale-survival layer (BASELINE.md envelope vs 100 TB target).
    """
    cpus = default_parallelism()
    heap, java_opts = driver_heap(
        os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"),
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", _SESSION_TZ)
        .config("spark.sql.shuffle.partitions", str(max(2 * cpus, 32)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalescing apply INSIDE cached plans too: Spark
        # defaults this off to keep a cached frame's output partitioning
        # stable for downstream reuse, which leaves a tiny persisted
        # artifact (e.g. a 2k-row serve index) carrying the full
        # shuffle.partitions count — every action over it then schedules
        # shuffle.partitions tasks of pure overhead (measured: the
        # persisted IVF lists/index at 64 partitions for 2000 rows, ~5
        # stages × 64 tasks per serve arm).  Size-proportional cached
        # partitioning is the scale-correct shape at any data size; the
        # declared queries don't rely on cached output partitioning.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Runtime bloom-filter join pruning: when the build side of a
        # shuffle join is filtered-but-too-big-to-broadcast, inject a
        # bloom filter of its join keys into the probe side's scan —
        # at 100 TB this prunes most of the fact scan's rows BEFORE the
        # shuffle (semi-join pushdown without a second pass).  The
        # 10 GiB default application-side threshold means it only fires
        # on genuinely large probes; semantics are unaffected (test
        # proves row parity with the filter forced on).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # iterative operators (connected_components) checkpoint per
        # round; without this, reliable-checkpoint files accumulate
        # until application exit (Spark defaults it to false)
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.parquet carries TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long and convert in the scan wrapper.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # split small file sets down to cluster parallelism (the 128 MiB
        # cap above still governs big inputs; this floors the split COUNT
        # so a 3-file scan doesn't serialize a 32-core stage)
        .config("spark.sql.files.minPartitionNum", str(cpus))
        # local mode: the driver heap IS the executor heap for every
        # worker thread.  Pin it (Xms=Xmx) and pre-touch: on-demand heap
        # commit under THP=madvise/defrag=madvise caused kernel
        # page-fault storms (32 runnable threads at ~98% SYSTEM cpu,
        # context switches collapsed) that randomly added 10-30s to
        # whichever query was running.  Pre-faulting the pages once at
        # startup removed the 1.9-29s run-to-run swings (same plan,
        # same data) entirely.  On a real cluster the executor JVMs
        # carry these settings' role.
        .config("spark.driver.memory", heap)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
