"""Streaming sinks beyond the built-in file/memory writers — the
foreachBatch compositions that close the loop between the streaming
surface and the batch sink library (sources/sinks.py).

The flagship is the streaming MERGE upsert: the reference's daily
Airflow MERGE (ETL-Airflow/dags/tasks/utils.py:368-433) becomes a
continuous upsert — each micro-batch merges into the target by key.
foreachBatch is the standard shape for this on Spark: the batch sink
code is reused verbatim per micro-batch, and exactly-once comes from
the checkpoint's batch-id idempotence plus the sink's own atomicity
(merge_upsert's staged rename; MERGE INTO when a transactional format
is available).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.sinks import merge_upsert, path_exists, write_parquet


def stream_merge_upsert(
    stream: DataFrame,
    target_path: str,
    keys: list[str],
    checkpoint: str,
    order_col: str | None = None,
    trigger_available_now: bool = True,
):
    """Continuously upsert a stream into a parquet target: one
    :func:`~..sources.sinks.merge_upsert` per micro-batch, keyed on
    ``keys`` — the streaming form of the reference's daily MERGE.

    A micro-batch can carry several updates for one key and MERGE
    semantics need exactly one, so each batch collapses to one row per
    key first.  ``order_col`` names the version column (sequence
    number, update timestamp) — the row with the GREATEST value wins,
    ties broken by the lexicographic max of the remaining columns.
    Without ``order_col`` the policy is the deterministic lexicographic
    max over non-key columns in schema order — NOT arrival order (Spark
    aggregation has no row order); pass ``order_col`` whenever updates
    are versioned.

    Returns the started StreamingQuery (caller awaits/stops).  Restart
    safety: replays of a committed batch re-merge the same rows — the
    merge is idempotent per (key, values), so the target converges.
    The merged-snapshot handle merge_upsert materializes under its lock
    is unpersisted immediately: a long-running stream must not pin one
    full-target cache per micro-batch.
    """
    if order_col is not None and order_col in keys:
        raise ValueError(f"order_col {order_col!r} cannot be a merge key")
    if order_col is not None and order_col not in stream.columns:
        # fail HERE, not wrapped in a StreamingQueryException after the
        # checkpoint dir exists — the stream's schema is known now
        raise ValueError(f"order_col {order_col!r} not in stream columns {stream.columns}")
    missing = [k for k in keys if k not in stream.columns]
    if missing:
        raise ValueError(f"merge keys {missing} not in stream columns {stream.columns}")

    def upsert(batch_df: DataFrame, _batch_id: int) -> None:
        others = [c for c in batch_df.columns if c not in keys]
        if others:  # all-key schemas are already one row per key after distinct
            lead = [order_col] if order_col else []
            rest = [c for c in others if c not in lead]
            batch_df = (
                batch_df.groupBy(*keys)
                .agg(F.max(F.struct(*lead, *rest)).alias("_row"))
                .select(*keys, *[F.col(f"_row.{c}").alias(c) for c in others])
            )
        else:
            batch_df = batch_df.distinct()
        if batch_df.isEmpty():
            return
        merge_upsert(batch_df.sparkSession, target_path, batch_df, keys).unpersist()

    return stream_foreach_batch_sink(stream, upsert, checkpoint, trigger_available_now)


def stream_foreach_batch_sink(
    stream: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint: str,
    trigger_available_now: bool = True,
):
    """Generic foreachBatch adapter: run any batch sink from the sink
    library per micro-batch under a checkpoint (the composition point
    for dual_write / append_history / write_jdbc on a stream).  Every
    foreachBatch sink of the package starts here; the default trigger
    drains what is available and stops."""
    writer = stream.writeStream.foreachBatch(sink).option("checkpointLocation", checkpoint)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def update_sketch_table(
    batch_df: DataFrame,
    sketch_path: str,
    key_col: str = "user_id",
    time_col: str = "ts",
    lgk: int = 12,
) -> None:
    """Fold one batch of events into a per-day HLL sketch table at
    ``sketch_path`` (parquet partitioned by ``day``: day date,
    hll_sketch binary, n_rows long).

    Only the batch's days are touched (dynamic partition overwrite);
    existing days merge via ``hll_union``.  The merged slice is
    materialized (localCheckpoint) before the write — overwriting a
    path that the same plan reads is otherwise rejected/unsafe.

    Idempotence: HLL register merge is a MAX — re-folding the same
    events leaves every distinct estimate unchanged, so batch replays
    are exactly-once for the sketch itself; ``n_rows`` is a plain sum
    and is at-least-once under replay (treat it as diagnostic).
    """
    daily = batch_df.groupBy(F.to_date(time_col).alias("day")).agg(
        F.hll_sketch_agg(key_col, F.lit(lgk)).alias("hll_sketch"),
        F.count("*").alias("n_rows"),
    )
    spark = batch_df.sparkSession
    if path_exists(spark, sketch_path):
        existing = spark.read.parquet(sketch_path).select(
            "day",
            F.col("hll_sketch").alias("_old_sketch"),
            F.col("n_rows").alias("_old_n"),
        )
        merged = daily.join(existing, "day", "left").select(
            "day",
            F.when(
                F.col("_old_sketch").isNull(), F.col("hll_sketch")
            ).otherwise(F.hll_union("_old_sketch", "hll_sketch")).alias("hll_sketch"),
            (F.coalesce("_old_n", F.lit(0)) + F.col("n_rows")).alias("n_rows"),
        )
    else:
        merged = daily
    merged = merged.localCheckpoint(eager=True)
    if not merged.take(1):
        return
    write_parquet(merged, sketch_path, partition_by=["day"])


def stream_sketch_distinct(
    stream: DataFrame,
    sketch_path: str,
    checkpoint: str,
    key_col: str = "user_id",
    time_col: str = "ts",
    lgk: int = 12,
    trigger_available_now: bool = True,
):
    """Continuously maintain the per-day distinct-key sketch table from
    an event stream: :func:`update_sketch_table` per micro-batch.
    Downstream, ``operators.sketches.merged_distinct`` answers
    distinct-over-any-window from the kilobyte sketch blobs without
    rescanning history — the incremental-statistics pattern (daily
    uniques, rolling 30-day uniques) at 100 TB event volume.
    Exactly-once for the estimates comes free from HLL merge
    idempotence (see update_sketch_table), independent of the
    checkpoint's replay semantics."""

    def fold(batch_df: DataFrame, _batch_id: int) -> None:
        update_sketch_table(
            batch_df, sketch_path, key_col=key_col, time_col=time_col, lgk=lgk
        )

    return stream_foreach_batch_sink(stream, fold, checkpoint, trigger_available_now)
