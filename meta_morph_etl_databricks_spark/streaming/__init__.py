"""Structured Streaming surface over the ``events`` table.

The reference is batch-only (SURVEY.md §2.10): its "incremental"
behaviors are daily Airflow runs, DAY_DT-stamped appends, and a MERGE
upsert.  This package is the capability extension that makes those
shapes native: tumbling/sliding/session windows with watermarked late-
data handling, and a custom stateful operator via
``applyInPandasWithState``.

Design rule: every window builder in :mod:`.windows` is written against
the DataFrame API only, so the SAME function runs in batch mode (where
the DuckDB oracle can check it) and in streaming mode (readStream →
a streaming sink, exercised in tests/test_streaming.py).  That keeps the
correctness surface SQL-checkable while the streaming plumbing stays
real.
"""

from .windows import (  # noqa: F401
    session_user_windows,
    sliding_type_activity,
    tumbling_type_counts,
    with_watermark,
)
from .sources import events_schema, read_events_stream  # noqa: F401
from .stateful import expiring_user_totals, running_user_totals  # noqa: F401
from .dedup import (  # noqa: F401
    dedup_stream,
    dedup_stream_exact,
    stream_incremental_dedup,
    stream_incremental_embed_near_dup,
    stream_incremental_semantic_dedup,
    stream_ivf_ingest,
)
from .joins import clicks_to_purchases_stream, enrich_stream, interval_join_streams  # noqa: F401
from .sinks import (  # noqa: F401
    stream_foreach_batch_sink,
    stream_merge_upsert,
    stream_sketch_distinct,
    update_sketch_table,
)
