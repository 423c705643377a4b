"""The daily pipeline, end to end — the reference's Airflow DAG
(meta_morph_etl.py:27-73) as ONE composable function:

    ingest, one branch per table (dup-gate → raw overwrite +
      day-partitioned history, C3/C4)
      → fan-in: every ingest branch has finished
      → four mart branches (day-stamped, gated, idempotent day-partition
        writes, per-day publish hand-off to the reporting layer, C7);
        the customer_metrics branch also MERGE-upserts the current
        table (C5)

The branches of a phase run concurrently on the one session, as the
reference's tasks do (meta_morph_etl.py:24, max_active_tasks=4): most of
a day's jobs have a single task at this size, so one branch at a time
leaves most cores idle.

Differences from the reference, on purpose (SURVEY.md §7.1):
- one SparkSession for the whole run, stages hand DataFrames (or
  parquet paths) to each other instead of round-tripping Postgres;
- history/mart appends use DYNAMIC PARTITION OVERWRITE on day_dt, so a
  re-run of the same day is idempotent (the reference instead relies on
  dup gates to explode on double-loads — its Postgres MERGE gave it
  transactional cover we don't have on plain parquet);
- the cross-pipeline dependency (customer_sales_report reading the same
  day's supplier_performance, §3.1 step 4) is an in-memory DataFrame
  hand-off, visible to Catalyst — so customer_sales_report runs beside
  supplier_performance instead of after it;
- each phase is a fan-out over one thread pool followed by one fan-in.
  A failing branch does not stop its siblings: a bad ingest gate no
  longer keeps the OTHER tables' raw and history writes from landing
  (in the reference each ingest is its own Airflow task, too).  Once
  every branch of the phase has been joined, the first failure in
  INGEST_TABLES / MART_FNS order is raised, so no mart runs after a
  failed ingest and the current table stays untouched.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from functools import partial
from typing import Any

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..quality.dup_gate import assert_unique
from ..sources.scans import read_parquet_table
from ..sources.sinks import merge_upsert, publish_partition, write_parquet
from . import marts

INGEST_TABLES = ("region", "nation", "supplier", "part", "customer", "orders", "lineitem")

# Declared PKs double as test oracles (reference utils.py:88-119 +
# SURVEY.md §5.1).  lineitem is deliberately absent: the testdata's
# (l_orderkey, l_linenumber) is NOT unique (FIXTURES.md quirk).
INGEST_PKS: dict[str, list[str]] = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "customer": ["c_custkey"],
    "orders": ["o_orderkey"],
}

MART_PKS: dict[str, list[str]] = {
    "supplier_performance": ["supplier_id"],
    "product_performance": ["product_id"],
    "customer_metrics": ["customer_id"],
    # customer_sales_report is line-grain: sale_id repeats per line, no PK gate
}

MART_FNS = {
    "supplier_performance": marts.supplier_performance,
    "product_performance": marts.product_performance,
    "customer_metrics": marts.customer_metrics,
    "customer_sales_report": marts.customer_sales_report,
}


def _fan_out(spark: SparkSession, branches: list[Callable[[], Any]]) -> list[Any]:
    """Run every branch on its own thread, join them all, and return
    their results in order; the first failure in branch order is raised
    only after every branch has finished.

    Each branch is wrapped on its own, so it starts from its own copy of
    the caller's local properties (job group, job tags): a branch thread
    is a fresh pinned JVM thread, whose jobs would otherwise carry no
    group and no tag and could not be cancelled by tag."""
    with ThreadPoolExecutor(max_workers=len(branches)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(b)) for b in branches]
    return [f.result() for f in futures]


def _write_day_partition(df: DataFrame, path: str, day: str) -> None:
    """Idempotent day write: stamp ``day_dt`` and replace ONLY that
    day's partition (write_parquet's dynamic partition overwrite); other
    history days are untouched."""
    write_parquet(df.withColumn("day_dt", F.to_date(F.lit(day))), path, partition_by=["day_dt"])


def _ingest_table(spark: SparkSession, source_dir: str, base_dir: str, day: str, name: str) -> int:
    """One ingest branch.  The source is persisted before its gate, so
    the gate and both writes share one scan."""
    df = read_parquet_table(spark, source_dir, name).persist()
    try:
        if name in INGEST_PKS:
            assert_unique(df, INGEST_PKS[name])
        write_parquet(df, f"{base_dir}/raw/{name}.parquet", mode="overwrite")
        _write_day_partition(df, f"{base_dir}/history/{name}", day)
        return df.count()
    finally:
        df.unpersist()


def ingest(spark: SparkSession, source_dir: str, base_dir: str, day: str) -> dict[str, int]:
    """C3+C4 per source entity, one concurrent branch per table:
    dup-gate on the declared PK, overwrite the raw snapshot,
    day-partition the history layer."""
    branches = [partial(_ingest_table, spark, source_dir, base_dir, day, n) for n in INGEST_TABLES]
    return dict(zip(INGEST_TABLES, _fan_out(spark, branches)))


def _mart(
    spark: SparkSession, base_dir: str, day: str, publish: bool, name: str
) -> dict[str, int]:
    """One mart branch: build, gate, day write, count, publish — and for
    customer_metrics the MERGE upsert.  The mart is computed once: the
    gate, the day write and the MERGE read one persisted frame, while
    the ``mart.*`` and ``published.*`` counts read back what was
    written."""
    out = MART_FNS[name](spark, f"{base_dir}/raw").persist()
    try:
        if name in MART_PKS:
            assert_unique(out, MART_PKS[name])
        mart_path = f"{base_dir}/marts/{name}"
        _write_day_partition(out, mart_path, day)
        stats = {
            f"mart.{name}": spark.read.parquet(mart_path)
            .filter(F.col("day_dt") == F.to_date(F.lit(day)))
            .count()
        }
        if publish:
            stats[f"published.{name}"] = publish_partition(
                spark, mart_path, f"{base_dir}/reporting/{name}", day
            )
        if name == "customer_metrics":
            # C5: the customer_metrics "current" table is a keyed MERGE
            # target — matched customers take the new day's values, new
            # customers insert, unmatched old customers survive
            # (reference utils.py:368-433).
            current = merge_upsert(
                spark, f"{base_dir}/current/customer_metrics", out, keys=["customer_id"]
            )
            # release the snapshot cache merge_upsert materialized under
            # its lock — a daily driver loop must not pin one target copy
            # per day
            try:
                stats["current.customer_metrics"] = current.count()
            finally:
                current.unpersist()
        return stats
    finally:
        out.unpersist()


def run_daily(
    spark: SparkSession,
    source_dir: str,
    base_dir: str,
    day: str = marts.AS_OF,
    publish: bool = True,
) -> dict[str, int]:
    """Run the full daily pipeline; returns per-stage row counts.

    Layout under ``base_dir``: raw/ (snapshot), history/ (day
    partitions), marts/ (day partitions), current/ (upsert target),
    reporting/ (published slices).
    """
    stats = dict(ingest(spark, source_dir, base_dir, day))
    for part in _fan_out(spark, [partial(_mart, spark, base_dir, day, publish, n) for n in MART_FNS]):
        stats.update(part)
    return stats
