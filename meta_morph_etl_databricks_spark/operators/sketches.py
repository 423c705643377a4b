"""Mergeable sketches — the approximate-statistics tier a 100 TB corpus
needs where exact answers cost a full-data shuffle.

Two production shapes:

- **Distinct counts over composable slices** (users/day → users/month
  without rescanning): Spark's DataSketches HLL aggregates
  (``hll_sketch_agg`` / ``hll_union_agg``, SQL-native since 3.5) build
  one small binary sketch per slice at ingest; any later window is a
  UNION of sketches — kilobytes shuffled instead of the key column.
  Exact ``COUNT(DISTINCT)`` over a year of days re-shuffles every key
  every time; the sketch table answers from |days| kilobyte blobs with
  ~1.6%/√(2^lgk) relative error.

- **Heavy hitters without a full groupBy** (the Karp/frequent-items
  two-pass): ``freqItems`` (one map-side pass, no shuffle of the long
  tail) over-approximates the candidate set — ≤ 1/support items — and
  an exact count of ONLY those candidates confirms.  The tail never
  crosses the wire; the confirm shuffle carries ≤ 1/support keys.

No reference analog (the reference computes only exact small-group
aggregates); this is part of the LLM-pipeline extension surface —
corpus profiling (distinct tokens/urls/fingerprints per shard, heavy
domains) at sizes where exact distinct is the bottleneck.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sketch_distinct(
    df: DataFrame,
    key_col: str,
    by: list[str] | None = None,
    lgk: int = 12,
    sketch_col: str = "hll_sketch",
) -> DataFrame:
    """Per-group HLL sketches of ``key_col``: (by..., sketch_col binary,
    n_rows).  One map-side-combining hash aggregate — sketches merge on
    the combiners, so the shuffle carries one ~2^lgk-byte blob per
    group per map task, never the keys.  Write this next to the slice
    (e.g. per day_dt) at ingest; :func:`merged_distinct` answers any
    later window."""
    return df.groupBy(*(by or [])).agg(
        F.hll_sketch_agg(key_col, F.lit(lgk)).alias(sketch_col),
        F.count("*").alias("n_rows"),
    )


def merged_distinct(
    sketches: DataFrame,
    by: list[str] | None = None,
    sketch_col: str = "hll_sketch",
    estimate_col: str = "approx_distinct",
) -> DataFrame:
    """Union sketches across slices (optionally re-grouped by ``by``)
    and estimate the distinct count of the UNION of the underlying
    sets: (by..., estimate_col long).  The input is the tiny sketch
    table, not the data — a year-over-year distinct query reads 365
    blobs."""
    merged = sketches.groupBy(*(by or [])).agg(
        F.hll_union_agg(sketch_col).alias("_merged")
    )
    return merged.select(
        *(by or []), F.hll_sketch_estimate("_merged").alias(estimate_col)
    )


def heavy_hitters(
    df: DataFrame,
    col: str,
    support: float = 0.01,
    exact_threshold: int | None = None,
) -> DataFrame:
    """Items occurring in more than ``support`` fraction of rows, with
    EXACT counts: (item, n_rows, frequency).

    Pass 1: ``freqItems`` (Karp et al. streaming frequent-items — one
    pass, map-side, no shuffle of the tail) yields every item above
    support plus possible false positives, ≤ ⌈1/support⌉ candidates
    total.  Pass 2: exact count of only the candidate rows (semi-filter
    then hash agg — the shuffle carries candidate keys only), then the
    threshold prunes pass-1 false positives.  Result is exact both in
    membership and counts.

    ``exact_threshold`` overrides the row-count threshold (default
    ``support · total_rows``).  It must be ≥ ``support · total_rows``:
    pass-1 only guarantees candidates ABOVE support, so a lower
    threshold would make membership nondeterministic (items between
    the two thresholds may or may not appear in the candidate set).
    To lower the cutoff, lower ``support`` instead.
    """
    if not (0 < support < 1):
        raise ValueError(f"support must be in (0, 1), got {support}")
    cands = df.stat.freqItems([col], support).first()[0]
    total = df.count()
    if exact_threshold is not None and exact_threshold < support * total:
        raise ValueError(
            f"exact_threshold={exact_threshold} < support*total={support * total:.1f}: "
            "pass-1 freqItems only guarantees items above support, so membership "
            "below that line is nondeterministic — lower `support` instead"
        )
    threshold = exact_threshold if exact_threshold is not None else support * total
    if not cands:
        return df.sparkSession.createDataFrame(
            [], f"item {df.schema[col].dataType.simpleString()}, n_rows long, frequency double"
        )
    counted = (
        df.filter(F.col(col).isin(list(cands)))
        .groupBy(F.col(col).alias("item"))
        .agg(F.count("*").alias("n_rows"))
        .filter(F.col("n_rows") > F.lit(threshold))
    )
    return counted.select(
        "item", "n_rows", (F.col("n_rows") / F.lit(total)).alias("frequency")
    )
