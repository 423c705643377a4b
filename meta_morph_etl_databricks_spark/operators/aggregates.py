"""Aggregation operators (SURVEY.md §2.5, A1–A13).

All forms are ``groupBy().agg()`` hash aggregates — Spark plans
partial (map-side) + final automatically, so a 100 TB groupBy ships
pre-combined partials, not raw rows.  Helpers here encode the
reference's NULL-semantics quirks exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scalars import null_safe_sum  # noqa: F401  (re-export)


def argmax_per_group(df: DataFrame, keys: list[str], order_col: Column, payload: list[str]) -> DataFrame:
    """Skew-proof alternative to the window top-1 (C1): ``max_by`` packs
    the payload into a struct ordered by ``order_col`` and reduces with
    map-side combine — no per-group sort, no skew hotspot.  Tie-break must
    be baked into ``order_col`` (e.g. a struct of (value, -key))."""
    packed = F.struct(*[F.col(c) for c in payload])
    return df.groupBy(*keys).agg(F.max_by(packed, order_col).alias("_top")).select(
        *keys, *[F.col(f"_top.{c}").alias(c) for c in payload]
    )


def dup_counts(df: DataFrame, keys: list[str]) -> DataFrame:
    """A9 core: per-key multiplicity (used by the C3 dup gate).  The
    reference pre-repartitions on the PK (utils.py:112-114) — redundant,
    the groupBy shuffle already partitions by key (SURVEY.md §4)."""
    return df.groupBy(*keys).agg(F.count("*").alias("cnt")).filter(F.col("cnt") > 1)
