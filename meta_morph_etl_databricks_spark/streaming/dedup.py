"""Streaming deduplication — the streaming half of the dedup layer
(operators/dedup.py is the batch half).

Two shapes, both state-bounded (unbounded dedup state is the failure
mode at 100 TB/day):

- :func:`dedup_stream` — exact key dedup WITHIN the watermark horizon
  via ``dropDuplicatesWithinWatermark``: state for a key is dropped once
  the watermark passes its event time, so memory is O(keys per horizon),
  not O(keys ever seen).  The right tool for at-least-once sources
  (Kafka redelivery, file re-lands) where duplicates arrive close
  together in event time.
- :func:`dedup_stream_exact` — plain ``dropDuplicates`` for bounded
  backfills (``availableNow`` runs) where the key universe fits state
  and cross-horizon duplicates matter.  Documented hazard: on an
  unbounded stream this state never ages out — prefer
  :func:`dedup_stream`.

Batch parity: both builders accept a batch DataFrame too (Spark routes
``dropDuplicatesWithinWatermark`` to plain ``dropDuplicates`` semantics
per-key in batch... it is streaming-only, so the batch path uses
``dropDuplicates`` explicitly), keeping the builder testable both ways.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators import index_store as ix
from .sinks import stream_foreach_batch_sink


def dedup_stream(
    events: DataFrame,
    keys: list[str],
    watermark_delay: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Exact dedup on ``keys`` with watermark-bounded state.

    A duplicate arriving within ``watermark_delay`` of the first-seen
    record (in event time) is dropped; one arriving after the state for
    its key was evicted passes through — the standard horizon-bounded
    exactly-once-per-horizon contract.  In batch mode (non-streaming
    input) this is plain ``dropDuplicates`` — same keys, whole-input
    horizon.
    """
    if not events.isStreaming:
        return events.dropDuplicates(keys)
    return events.withWatermark(ts_col, watermark_delay).dropDuplicatesWithinWatermark(keys)


def dedup_stream_exact(events: DataFrame, keys: list[str]) -> DataFrame:
    """Unbounded-state exact dedup — ONLY for bounded runs (backfills
    with ``trigger(availableNow=True)``).  State grows with the distinct
    key count and never ages out; use :func:`dedup_stream` for
    continuous pipelines."""
    return events.dropDuplicates(keys)


def _index_sink(stream, index_path, checkpoint, trigger_available_now, kind, expected, body):
    """Start a foreachBatch sink over a persisted index.  Each batch
    runs ``body(batch_df, batch_id, live, meta)`` with the scaffolding
    every index sink shares:

    - the WHOLE batch holds the (reentrant) writer slot (r11 review):
      recovery's debris reap, the data/seen appends and in-line
      maintenance all serialize against external maintenance ops
      instead of racing their generation swaps.  ``owner=checkpoint``
      (r12 advice): a hard-killed incarnation of THIS stream strands
      the marker; the restart reclaims its own stale lock instead of
      polling out and dying (replay via recover_compaction is safe —
      see writer_lock's owner contract);
    - ``recover_compaction`` runs UNCONDITIONALLY (not gated on
      ``compact_every``): a compaction crash mid-swap leaves no live
      index, and a restart that dropped the flag would otherwise read
      meta=None and silently bootstrap a fresh EMPTY index over the
      trash — then a later recovery call would see root+trash, declare
      the compaction "finished", and delete the old index permanently.
      Two fs.exists calls per batch buy immunity to that whole class;
    - the pointer is resolved ONCE per batch — meta and data must come
      from the same generation (round-9 advice: a flip between separate
      meta/live reads pairs stale meta with new data);
    - an existing index must be of ``kind`` and match the caller's
      ``expected`` params and the batch's id dtype — checked driver-side
      BEFORE any data is touched (``meta`` is None: no index yet, the
      body bootstraps one)."""

    def run_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        with ix.writer_lock(
            spark, index_path, "stream_batch", retries=120, owner=checkpoint
        ):
            ix.recover_compaction(spark, index_path)
            live, meta = ix.live_index(spark, index_path)
            if meta is not None:
                if meta.get("kind") != kind:
                    raise ValueError(f"index at {index_path} is kind={meta.get('kind')!r}")
                ix._require_meta(meta, expected, index_path)
                ix._check_id_type(batch_df, meta, index_path)
            body(batch_df, batch_id, live, meta)

    return stream_foreach_batch_sink(stream, run_batch, checkpoint, trigger_available_now)


def _maintain(spark, index_path, batch_id, compact_every, dial=None) -> None:
    """Between-triggers maintenance after a committed batch: the
    ``compact_every`` cadence, then the kind's growth/drift dial.  The
    batch still holds the writer slot (foreachBatch serializes
    batches), so no appender is live during a rewrite — the exact spot
    the rewrites' single-writer contract names."""
    if compact_every and (batch_id + 1) % compact_every == 0:
        ix.compact_index(spark, index_path, lock_retries=60)
    if dial is not None:
        dial(spark)


def _rebucket_dial(index_path, target_rows):
    """The band/embed growth dial: rebucket when due, with the SAME
    target as the dial (r12 advice: the fixed 500 default left a
    <125-rows/bucket dial re-firing a full rewrite on every subsequent
    batch forever)."""

    def dial(spark) -> None:
        if ix.rebucket_due(spark, index_path, target_rows_per_bucket=target_rows):
            ix.rebucket_index(
                spark, index_path, target_rows_per_bucket=target_rows, lock_retries=60
            )

    return dial


def _dedup_sink(
    stream, index_path, accepted_path, checkpoint, trigger_available_now,
    kind, expected, params, bootstrap, compact_every, dial,
):
    """The one foreachBatch body of the three dedup sinks.  Per batch,
    inside :func:`_index_sink`'s lock/recover/pointer/validation
    scaffolding:

    1. no index yet → ``bootstrap(batch_df)`` returns the kind's meta
       (None = not bootstrappable yet: retry on the next batch) and the
       first generation is initialized;
    2. the seen filter drops ids a committed batch already processed;
    3. :func:`~..operators.index_store._serve_plan` — the batch serve's
       own plan step (``params`` are the policy's serve arguments);
    4. write order accepted rows → index rows → row counter → tombstone
       clear (:func:`~..operators.index_store._locked_serve_append`) →
       seen marker, so a crash replays the whole batch against
       consistent state (see :func:`stream_incremental_dedup`).  The
       counter is bumped BEFORE the seen marker: a crash in between
       replays the batch, physically re-appending rows the counter
       already counted once, so ``meta['rows']`` UNDER-counts until the
       next compact/recluster recount (round-10 advice) — acceptable
       for a drift heuristic: the dial fires LATE, never spuriously.
       Re-ingested takedown ids are cleared before the marker too, so
       such a crash replays full-row duplicates instead of stranding
       re-accepted content behind its own tombstone;
    5. :func:`_maintain` with the kind's ``dial``."""

    def body(batch_df: DataFrame, batch_id: int, live, meta) -> None:
        spark = batch_df.sparkSession
        if meta is None:
            meta = bootstrap(batch_df)
            if meta is None:
                return
            live, meta = ix.init_index(spark, index_path, meta, lock_retries=60)
        # persisted: feeds isEmpty, the row builder, the policy's
        # anti-join, the tombstone clear and the seen append.  Freed
        # before return — a long-running stream must not accumulate
        # caches.
        fresh = ix.seen_filter_fresh(batch_df, live, meta).persist()
        try:
            if fresh.isEmpty():
                return
            res, rows, tombs = ix._serve_plan(fresh, live, meta, params)
            try:
                res.accepted.write.mode("append").parquet(accepted_path)
                live, meta = ix._locked_serve_append(
                    spark, index_path, live, meta, rows, fresh, tombs
                )
                ix.append_seen_ids(fresh, live, meta)  # commit marker
            finally:
                rows.unpersist()
        finally:
            fresh.unpersist()
        _maintain(spark, index_path, batch_id, compact_every, dial)

    return _index_sink(
        stream, index_path, checkpoint, trigger_available_now, kind, expected, body
    )


def stream_incremental_dedup(
    stream: DataFrame,
    index_path: str,
    accepted_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    est_threshold: float = 0.8,
    n_buckets: int | None = None,
    trigger_available_now: bool = True,
    compact_every: int | None = None,
    rebucket_when_due: bool = False,
    rebucket_target_rows: int = 500,
):
    """Continuous corpus curation: every micro-batch of documents is
    near-dup-deduped against the persisted MinHash band index
    (operators/incremental.py, stored through operators/index_store.py)
    — accepted docs append to ``accepted_path``, the batch's band rows
    append into the pfx-partitioned index, and the next micro-batch
    dedups against the grown index.  The streaming form of the
    daily-increment shape, with per-batch cost O(batch):

    - the index read is PRUNED to the batch's touched pfx buckets
      (directory-level partition pruning — the full-corpus scan the
      r6 flat-append layout paid per batch is gone);
    - the processed-id filter reads a compact seen-id sidecar
      (``<index>/_seen_ids``, 8 bytes/doc, same pruning trick), not a
      distinct() over the whole index;
    - build params live in the index's ``_index_meta.json`` (written on
      the first batch; ``n_buckets`` defaults to auto-sizing over that
      batch — pass it explicitly when the steady-state corpus is known,
      buckets should be sized to the CORPUS) and are validated
      driver-side each batch with zero Spark actions.  Restarting the
      sink with different num_hashes/bands raises instead of silently
      joining nothing, and a different ``id_col`` raises instead of
      silently reading the index/seen store through a schema naming a
      nonexistent column (all-NULL ids would disable the seen filter
      and re-append every batch forever).

    Ordering/delivery contract (same honesty as the batch module):

    - ids must be monotone-ish across batches for the drop-higher-id
      policy to mean "first seen wins" (event-time ids, sequence ids);
    - a doc id recorded by a fully-committed batch is dropped before
      processing — cross-batch redelivery is a no-op, now INCLUDING
      sub-shingle docs (the seen sidecar records every processed id,
      not just ids with band rows);
    - per-batch write order is accepted → index rows → row counter →
      tombstone clear → seen ids (:func:`_dedup_sink`), so a crash
      replays the whole batch against consistent state: before
      the index append the recomputed accepted set is identical (the
      index is unchanged); after it, the batch's own band rows are in
      the index and every shingled doc self-matches (est 1.0) so no
      wrong acceptance ever lands — in both windows ``accepted_path``
      is at-least-once with FULL-ROW duplicates only.  Read it with
      dropDuplicates([id]) or point the accepted sink at merge_upsert
      for exactly-once at rewrite cost.  Replayed index appends can
      duplicate band rows (duplicate candidates collapse in the
      rejected-set distinct; compact the index offline if storage
      matters).

    ``compact_every=N`` runs :func:`~..operators.index_store
    .compact_index` after every Nth committed batch, between triggers
    (:func:`_maintain`); every batch first runs ``recover_compaction``
    whatever the flag (:func:`_index_sink`).  Appends add O(touched)
    small files per batch and replays duplicate rows, so long-running
    streams should set it (file-count and replay-bloat bound, amortized
    one rewrite per N batches)."""

    def bootstrap(batch_df: DataFrame) -> dict | None:
        if batch_df.isEmpty():
            # nothing to size the index from (Kafka latest-offsets fires
            # an empty batch 0): bootstrapping here would pin n_buckets
            # at the 32-bucket floor FOREVER (r12 review) — retry on the
            # next batch instead
            return None
        return {
            "kind": ix.BAND_KIND,
            "id_col": id_col,
            "id_type": dict(batch_df.dtypes)[id_col],
            "num_hashes": num_hashes,
            "bands": bands,
            "n_buckets": n_buckets or ix.auto_index_buckets(batch_df.count() * bands),
        }

    return _dedup_sink(
        stream, index_path, accepted_path, checkpoint, trigger_available_now,
        ix.BAND_KIND,
        {"id_col": id_col, "num_hashes": num_hashes, "bands": bands},
        {"text_col": text_col, "est_threshold": est_threshold},
        bootstrap,
        compact_every,
        _rebucket_dial(index_path, rebucket_target_rows) if rebucket_when_due else None,
    )


def stream_incremental_semantic_dedup(
    stream: DataFrame,
    index_path: str,
    accepted_path: str,
    checkpoint: str,
    threshold: float = 0.9,
    k: int | None = None,
    iters: int = 1,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_buckets: int | None = None,
    target_cell_size: int = 300,
    trigger_available_now: bool = True,
    compact_every: int | None = None,
    recluster_when_due: bool = False,
    drift_factor: float = 4.0,
):
    """SemDeDup sibling of :func:`stream_incremental_embed_near_dup`:
    continuous semantic curation against the persisted k-means cell
    index (operators/index_store.py SEM kind).  The FIRST batch is the
    bootstrap corpus: its integer-exact Lloyd run fixes the cells and
    the assigner tree goes into the sidecar; every batch — including
    the first — then flows through the uniform serve path (route into
    cells via the tree, pruned index read, reject vs index or lower-id
    batch row, append ALL rows, seen-sidecar commit marker), so the
    first batch's within-batch near-dups are deduped exactly like any
    later batch's.  Restarting with a different ``id_col``/``dims``
    (or an explicit ``k`` that differs) raises against the sidecar —
    a drifted assigner would re-cell every batch and silently admit
    every duplicate.  ``compact_every`` and per-batch crash recovery
    behave exactly as in the other two sinks.

    An all-corrupt first batch cannot bootstrap (no valid vectors → no
    cells): it passes through accepted-as-is, nothing is written to the
    index, and bootstrap retries on the next batch.

    Cell-drift handling: cells are fixed at bootstrap and drift as the
    corpus grows.  ``recluster_when_due=True`` closes the loop in-sink:
    after each committed batch the O(1) occupancy dial
    (``index_store.semantic_recluster_due``, sidecar row counter ÷ k vs
    ``drift_factor × target_cell_size``) is polled, and when it fires
    the index is rebuilt from its own stored int8 codes and atomically
    swapped (``index_store.recluster_semantic_index``) — between
    triggers, the single-writer slot compaction already uses, so no
    appender is ever live during the swap and the next batch routes
    through the new generation's tree.  Default off: the rebuild is an
    O(corpus-codes) Lloyd run, a scheduling decision the operator owns."""
    from ..operators.semantic import auto_k, kmeans_int8_tree, shifted_codes, tree_to_json

    def bootstrap(batch_df: DataFrame) -> dict | None:
        n = batch_df.count()
        kk = k if k is not None else auto_k(n, target_cell_size)
        codes = shifted_codes(batch_df, dims, id_col, vec_col)
        _, _, tree = kmeans_int8_tree(codes, kk, iters, id_col)
        if tree is None:  # no valid vectors — nothing to cluster on
            batch_df.write.mode("append").parquet(accepted_path)
            return None
        return {
            "kind": ix.SEM_KIND,
            "id_col": id_col,
            "id_type": dict(batch_df.dtypes)[id_col],
            "dims": dims,
            "k": kk,
            "iters": iters,
            "n_buckets": n_buckets or ix.auto_index_buckets(n),
            "target_cell_size": target_cell_size,
            "bootstrap_rows": n,
            "tree": tree_to_json(tree),
        }

    def recluster_dial(spark) -> None:
        # the rebuild-and-swap runs with no appender live, and the next
        # batch resolves the new generation's tree/meta
        if ix.semantic_recluster_due(spark, index_path, drift_factor):
            ix.recluster_semantic_index(spark, index_path, lock_retries=60)

    expected = {"id_col": id_col, "dims": dims}
    if k is not None:
        expected["k"] = k
    return _dedup_sink(
        stream, index_path, accepted_path, checkpoint, trigger_available_now,
        ix.SEM_KIND,
        expected,
        {"threshold": threshold, "vec_col": vec_col},
        bootstrap,
        compact_every,
        recluster_dial if recluster_when_due else None,
    )


def stream_incremental_embed_near_dup(
    stream: DataFrame,
    index_path: str,
    accepted_path: str,
    checkpoint: str,
    threshold: float = 0.9,
    dims: int = 64,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    center: list[float] | str | None = "auto",
    n_buckets: int | None = None,
    trigger_available_now: bool = True,
    compact_every: int | None = None,
    rebucket_when_due: bool = False,
    rebucket_target_rows: int = 500,
):
    """Embedding sibling of :func:`stream_incremental_dedup`:
    continuous embedding-corpus curation against the persisted bucket
    index — same policy (reject vs index or vs a lower-id row of the
    same batch, index grows by ALL rows), same pruned-read + seen-
    sidecar O(batch) shape, same accepted → index → seen commit order
    and at-least-once accepted contract.

    ``center="auto"`` computes the corpus mean from the FIRST batch
    (the stream's bootstrap corpus) and persists it in the sidecar —
    every later batch buckets with that exact value.  Restarting with a
    different ``dims``/``n_planes``/``id_col`` raises against the
    sidecar BEFORE any data is touched (a dims mismatch would otherwise
    NULL-bucket every vector and silently accept every duplicate);
    ``center`` is validated only when explicitly pinned (a list or
    None) — the default ``"auto"`` defers to the stored build-time
    center, which is the point of persisting it.  For
    crash-replay the self-match argument holds with one nuance: a
    CORRUPT vector (NULL bucket) never self-matches, so replayed
    corrupt rows re-accept like sub-shingle docs — full-row duplicates,
    same dropDuplicates([id]) read contract.  ``compact_every`` behaves
    exactly as in :func:`stream_incremental_dedup` (compaction between
    triggers + per-batch crash recovery)."""
    from pyspark.sql import functions as F

    from ..operators.similarity import embedding_center

    def bootstrap(batch_df: DataFrame) -> dict | None:
        if batch_df.isEmpty():
            return None  # size/center next batch (see the band sink)
        # the bootstrap batch must hold at least one VALID vector (r12
        # review): an all-corrupt batch 0 under center="auto" would pin
        # center=[0.0]*dims in the sidecar FOREVER — reintroducing the
        # anisotropic bucket collapse the auto-center exists to prevent
        # — and its row count is a junk n_buckets sizing either way.
        # Mirror the semantic sink's no-valid-vectors path: pass the
        # batch through accepted as-is and retry bootstrap next batch.
        amax = F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x)))
        valid = (
            F.col(vec_col).isNotNull()
            & (F.size(vec_col) == dims)
            # interior NULL elements too (r12 advice): array_max SKIPS
            # nulls, so a right-length all-NULL-element vector passes
            # the amax tests yet lands in the NULL bucket — it must not
            # size n_buckets or seed center
            & ~F.exists(F.col(vec_col), lambda x: x.isNull())
            & ~F.isnan(amax)
            & (amax != F.lit(float("inf")))
        )
        if batch_df.where(valid).isEmpty():
            batch_df.write.mode("append").parquet(accepted_path)
            return None
        c = embedding_center(batch_df, dims, vec_col) if center == "auto" else center
        return {
            "kind": ix.EMBED_KIND,
            "id_col": id_col,
            "id_type": dict(batch_df.dtypes)[id_col],
            "dims": dims,
            "n_planes": n_planes,
            "center": c,
            "n_buckets": n_buckets or ix.auto_index_buckets(batch_df.count()),
        }

    # validate the CALLER's params against the sidecar — passing meta's
    # own values into the builders would compare the sidecar against
    # itself and never fire (round-7 advice)
    expected = {"id_col": id_col, "dims": dims, "n_planes": n_planes}
    if center != "auto":
        expected["center"] = center
    return _dedup_sink(
        stream, index_path, accepted_path, checkpoint, trigger_available_now,
        ix.EMBED_KIND,
        expected,
        {"threshold": threshold, "vec_col": vec_col},
        bootstrap,
        compact_every,
        _rebucket_dial(index_path, rebucket_target_rows) if rebucket_when_due else None,
    )


def stream_ivf_ingest(
    stream: DataFrame,
    index_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int | None = None,
    codec: str = "float",
    m: int = 4,
    ksub: int = 16,
    n_buckets: int | None = None,
    trigger_available_now: bool = True,
    compact_every: int | None = None,
    retrain_when_due: bool = False,
    drift_factor: float = 2.0,
):
    """Streaming ingest into the persisted IVF store (r11 — lifecycle
    parity with the three dedup kinds, which have had sinks since
    r7/r9): bootstrap the codebook from the FIRST non-empty batch
    (``index_store.create_ivf_index`` — nlist/codec/PQ codebooks pinned
    in the sidecar), then every later batch assigns to the stored
    quantizers and appends through
    ``append_ivf_vectors(dedupe_redelivery=True)`` — replayed ids are
    dropped via the shared seen-id sidecar, re-ingested takedown ids
    are resurrected, and the ``_rows`` counter feeds the growth dial.

    Maintenance between triggers, same pattern as the dedup sinks:
    ``compact_every=N`` bounds small files and replay bloat;
    ``retrain_when_due=True`` polls :func:`ivf_retrain_due` (O(1)) after
    each committed batch and runs :func:`retrain_ivf_index` when the
    corpus outgrows the frozen codebook — the swap is one atomic
    pointer flip, so concurrent serves never observe a half-state.
    All maintenance (and first-batch bootstrap) passes ``lock_retries``
    so the stream SERIALIZES behind external maintenance holding the
    writer lock instead of dying.

    At-least-once window, mirroring the dedup sinks: data lands before
    the seen marker, so a crash between them replays the batch as
    full-row duplicates — for IVF those can transiently occupy extra
    top-k slots until the next compaction collapses them
    (``compact_every`` bounds the exposure; the dedup kinds' duplicate
    rows are correctness-neutral, the IVF kind's are
    quality-transient)."""

    def body(batch_df: DataFrame, batch_id: int, live, meta) -> None:
        spark = batch_df.sparkSession
        if meta is None:
            if batch_df.isEmpty():
                return  # nothing to bootstrap a codebook from yet
            ix.create_ivf_index(
                batch_df, index_path,
                nlist=nlist, id_col=id_col, vec_col=vec_col,
                codec=codec, m=m, ksub=ksub, n_buckets=n_buckets,
                lock_retries=60,
            )
            # seen marker for the bootstrap batch, written LAST like the
            # append path's — a crash in between replays batch 1 as
            # full-row dups (see the at-least-once note above)
            live, meta = ix.live_index(spark, index_path)
            ix.append_seen_ids(batch_df.select(id_col), live, meta)
        else:
            ix.append_ivf_vectors(batch_df, index_path, dedupe_redelivery=True)
        _maintain(spark, index_path, batch_id, compact_every, dial)

    def retrain_dial(spark) -> None:
        if ix.ivf_retrain_due(spark, index_path, drift_factor):
            ix.retrain_ivf_index(spark, index_path, lock_retries=60)

    dial = retrain_dial if retrain_when_due else None
    # nlist is deliberately NOT validated (r11 review): it is a
    # create-time sizing dial, not index identity — retrain re-sizes it
    # to the grown corpus, and a bootstrap batch with fewer valid
    # vectors than requested stores fewer centroids; pinning it would
    # kill the stream on the first retrain.  The codebook itself always
    # comes from the sidecar.
    expected = {"id_col": id_col, "vec_col": vec_col, "codec": codec}
    return _index_sink(
        stream, index_path, checkpoint, trigger_available_now, ix.IVF_KIND, expected, body
    )
