"""Tombstone-based takedown (round 11): O(ids) retraction — the ids go
to a tiny atomically-replaced JSON sidecar, serves hide them with a
broadcast anti-join, and the next generational rewrite (compaction /
recluster / retrain / physical retract) reaps rows + seen entries and
drops the sidecar.

The bar: policy equivalence with the physical ``retract_ids`` (a
previously-rejected near-dup flips to accepted; a redelivered
tombstoned id is re-processed), O(ids) write cost is STRUCTURAL (no new
generation, no index rewrite), and re-ingest resurrects the id so the
re-accepted content is servable again.  Plus the round-11 counter split:
``_index_meta.json`` is write-once after a generation completes; the
running row counter lives in ``_rows`` and overlays at resolution time.
"""

from __future__ import annotations

import json
import os
import random

import pytest
from pyspark.sql import functions as F

from meta_morph_etl_databricks_spark.operators import index_store as ix

DIMS = 16
ESCHEMA = "vec_id long, embedding array<double>"
DSCHEMA = "doc_id long, text string"


def _band_docs(spark):
    base = "the quick brown fox jumps over the lazy dog and then some more words " * 4
    rows = [(0, base)] + [
        (i, " ".join(f"u{i}w{j}" for j in range(30))) for i in range(1, 20)
    ]
    return spark.createDataFrame(rows, DSCHEMA), base


def _tomb_file(spark, path):
    return f"{ix.live_root(spark, path)}/{ix.TOMBSTONES_FILE}"


def test_tombstone_policy_band_and_compaction_reap(spark, tmp_path):
    """Same consequence as test_retraction_policy_band, via the O(ids)
    path: B was rejected as a near-dup of indexed A; after tombstoning
    {A, B} a redelivered near-dup C is accepted — with NO generation
    rewrite.  The next compaction physically reaps the rows and drops
    the sidecar; the serve decision is unchanged across the reap."""
    path = str(tmp_path / "bidx")
    docs, base = _band_docs(spark)
    ix.create_band_index(docs, path, n_buckets=8)
    live0 = ix.live_root(spark, path)

    b = spark.createDataFrame([(100, base)], DSCHEMA)
    assert ix.serve_incremental_dedup(b, path).accepted.isEmpty()  # B rejected

    c = spark.createDataFrame([(200, base)], DSCHEMA)
    assert ix.serve_incremental_dedup(c, path, append=False).accepted.isEmpty()

    assert ix.tombstone_ids(spark, path, [0, 100]) == 2
    # O(ids) structurally: the live generation did NOT change (retract_ids
    # would have built gen N+1); only the JSON sidecar appeared
    assert ix.live_root(spark, path) == live0
    assert set(json.load(open(_tomb_file(spark, path)))) == {0, 100}

    got = ix.serve_incremental_dedup(c, path, append=False).accepted
    assert [r.doc_id for r in got.collect()] == [200]  # accepted post-takedown
    # opens hide the ids too
    idx_ids = {r.doc_id for r in ix.open_band_index(spark, path)[0].collect()}
    assert idx_ids.isdisjoint({0, 100})

    # compaction reaps: rows physically gone, sidecar dropped, new gen
    ix.compact_index(spark, path)
    assert ix.live_root(spark, path) != live0
    assert not os.path.exists(_tomb_file(spark, path))
    raw = spark.read.schema(
        ix._band_schema(ix.read_index_meta(spark, path))
    ).parquet(ix.live_root(spark, path))
    assert {r.doc_id for r in raw.collect()}.isdisjoint({0, 100})
    got2 = ix.serve_incremental_dedup(c, path, append=False).accepted
    assert [r.doc_id for r in got2.collect()] == [200]


def test_tombstone_idempotent_unknown_and_legacy(spark, tmp_path):
    import shutil

    path = str(tmp_path / "bidx")
    docs, _ = _band_docs(spark)
    ix.create_band_index(docs, path, n_buckets=8)
    assert ix.tombstone_ids(spark, path, [3, 4]) == 2
    assert ix.tombstone_ids(spark, path, [3, 4, 5]) == 1  # idempotent
    assert ix.tombstone_ids(spark, path, [777]) == 1  # unknown id hides nothing
    assert ix.open_band_index(spark, path)[0].count() > 0
    with pytest.raises(ValueError, match="nothing to retract"):
        ix.tombstone_ids(spark, str(tmp_path / "nope"), [1])
    flat = str(tmp_path / "flat")
    shutil.copytree(ix.live_root(spark, path), flat)
    # the copied sidecar hijacks nothing — a bare root is no index
    with pytest.raises(ValueError, match="no index"):
        ix.tombstone_ids(spark, flat, [1])


def test_tombstone_vector_kinds_and_ivf_serve(spark, tmp_path):
    """The two dedup vector kinds flip rejected→accepted under a
    tombstone; the IVF kind's serve drops the victim and refills k."""
    rng = random.Random(3)
    base = [rng.uniform(-1, 1) for _ in range(DIMS)]
    uniq = [[rng.uniform(-1, 1) for _ in range(DIMS)] for _ in range(30)]
    boot = spark.createDataFrame(
        [(0, base)] + [(i + 1, uniq[i]) for i in range(30)], ESCHEMA
    )
    b = spark.createDataFrame([(100, [x * 1.5 for x in base])], ESCHEMA)
    c = spark.createDataFrame([(200, [x * 0.5 for x in base])], ESCHEMA)

    for kind, create, serve in (
        ("embed", ix.create_embedding_index, ix.serve_incremental_embed_near_dup),
        ("sem", ix.create_semantic_index, ix.serve_incremental_semantic_dedup),
    ):
        path = str(tmp_path / f"{kind}idx")
        if kind == "embed":
            create(boot, path, dims=DIMS, n_planes=4, center=None)
        else:
            create(boot, path, k=3, iters=1, dims=DIMS)
        assert serve(b, path, threshold=0.999).accepted.isEmpty()
        assert ix.tombstone_ids(spark, path, [0, 100]) == 2
        got = serve(c, path, threshold=0.999).accepted
        assert [r.vec_id for r in got.collect()] == [200], kind

    ipath = str(tmp_path / "ivf")
    ix.create_ivf_index(boot, ipath, nlist=4)
    q = boot.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    before = ix.serve_ivf_topk(q, ipath, k=5, nprobe=2)
    victim = before.collect()[0].vec_id
    ix.tombstone_ids(spark, ipath, [victim])
    after = ix.serve_ivf_topk(q, ipath, k=5, nprobe=2)
    assert victim not in {r.vec_id for r in after.collect()}
    assert after.count() == before.count()  # k refills from the rest


def test_retract_folds_pending_tombstones(spark, tmp_path):
    """A physical retract reaps the pending tombstone backlog too — any
    generational rewrite leaves the new generation with a clean slate."""
    path = str(tmp_path / "bidx")
    docs, _ = _band_docs(spark)
    ix.create_band_index(docs, path, n_buckets=8)
    ix.tombstone_ids(spark, path, [1, 2])
    removed = ix.retract_ids(spark, path, [3])
    assert removed > 0  # counts the PASSED ids' rows
    assert not os.path.exists(_tomb_file(spark, path))
    raw = spark.read.schema(
        ix._band_schema(ix.read_index_meta(spark, path))
    ).parquet(ix.live_root(spark, path))
    assert {r.doc_id for r in raw.collect()}.isdisjoint({1, 2, 3})


def test_recluster_reaps_tombstones_and_counter_tracks(spark, tmp_path):
    """The semantic rebuild reaps pending tombstones; the row counter in
    the rebuilt sidecar equals the physically-counted rows (reaped rows
    excluded)."""
    boot = spark.createDataFrame(
        [(i, [float(i % 5), 1.0] + [0.0] * (DIMS - 2)) for i in range(40)], ESCHEMA
    )
    path = str(tmp_path / "semidx")
    ix.create_semantic_index(boot, path, k=4, iters=1, dims=DIMS, target_cell_size=5)
    ix.tombstone_ids(spark, path, [0, 1, 2])
    meta = ix.recluster_semantic_index(spark, path)
    assert meta["rows"] == 37
    raw = spark.read.schema(ix._sem_schema(meta)).parquet(ix.live_root(spark, path))
    assert raw.count() == 37
    assert not os.path.exists(_tomb_file(spark, path))


def test_streaming_redelivery_resurrects_tombstoned_id(spark, tmp_path):
    """Streaming story, tombstone edition: a tombstoned id's redelivery
    is RE-PROCESSED (its seen entry is masked, not purged), the sink
    clears the tombstone on the committed re-ingest, and the re-accepted
    content is servable again — a later near-dup REJECTS against it."""
    from meta_morph_etl_databricks_spark.streaming.dedup import (
        stream_incremental_dedup,
    )

    docs, base = _band_docs(spark)
    src = tmp_path / "src"
    src.mkdir()
    path = str(tmp_path / "sidx")
    acc = str(tmp_path / "sacc")

    def run_once():
        q = stream_incremental_dedup(
            spark.readStream.schema(DSCHEMA).parquet(str(src) + "/*"),
            path,
            acc,
            str(tmp_path / "sck"),
            n_buckets=8,
        )
        q.awaitTermination(120)

    docs.write.parquet(str(src / "b1"))
    run_once()
    assert 0 in {r.doc_id for r in spark.read.parquet(acc).collect()}

    assert ix.tombstone_ids(spark, path, [0]) == 1

    # redeliver id 0 with the same content: seen entry masked → batch
    # re-processes it; committed re-ingest clears the tombstone
    spark.createDataFrame([(0, base)], DSCHEMA).write.parquet(str(src / "b2"))
    run_once()
    accepted = [r.doc_id for r in spark.read.parquet(acc).collect()]
    assert accepted.count(0) == 2  # bootstrap acceptance + redelivery
    assert not os.path.exists(_tomb_file(spark, path))  # resurrected

    # content is back: a near-dup of it rejects again
    d = spark.createDataFrame([(300, base)], DSCHEMA)
    assert ix.serve_incremental_dedup(d, path, append=False).accepted.isEmpty()


def test_meta_sidecar_is_write_once_and_counter_overlays(spark, tmp_path):
    """The round-11 split: after incremental serves the on-disk
    ``_index_meta.json`` still holds the BUILD-TIME count (write-once
    completeness marker — the round-10 advice's torn-write window is
    gone because the file is never rewritten), the running value lives
    in ``_rows``, ``read_index_meta`` overlays it, and deleting
    ``_rows`` degrades to the build-time count instead of failing."""
    path = str(tmp_path / "semidx")
    boot = spark.createDataFrame(
        [(i, [float(i % 5), 1.0] + [0.0] * (DIMS - 2)) for i in range(10)], ESCHEMA
    )
    ix.create_semantic_index(boot, path, k=2, iters=1, dims=DIMS, target_cell_size=5)
    inc = spark.createDataFrame(
        [(100 + i, [float(i % 7), -1.0] + [0.0] * (DIMS - 2)) for i in range(20)],
        ESCHEMA,
    )
    ix.serve_incremental_semantic_dedup(inc, path, threshold=0.9999)

    live = ix.live_root(spark, path)
    on_disk = json.load(open(f"{live}/{ix.META_FILE}"))
    assert on_disk["rows"] == 10  # build-time value, never rewritten
    assert open(f"{live}/{ix.ROWS_FILE}").read().strip() == "30"
    assert ix.read_index_meta(spark, path)["rows"] == 30  # overlay

    os.remove(f"{live}/{ix.ROWS_FILE}")
    assert ix.read_index_meta(spark, path)["rows"] == 10  # graceful degrade
    # the dial still answers (late, never broken)
    assert ix.semantic_recluster_due(spark, path, drift_factor=0.1) in (True, False)


def test_tombstone_write_crash_windows(spark, tmp_path, monkeypatch):
    """The takedown sidecar replace is tmp+rename: a crash BEFORE the
    rename must leave the previous tombstone list fully intact (no torn
    JSON, no partial takedown), and the stranded ``.tmp`` must not leak
    into reads or block the retried takedown."""
    path = str(tmp_path / "bidx")
    docs, _ = _band_docs(spark)
    ix.create_band_index(docs, path, n_buckets=8)
    assert ix.tombstone_ids(spark, path, [1, 2]) == 2
    live = ix.live_root(spark, path)

    real_write = ix._write_small_file

    def die_after_tmp(spark_, p, text):
        real_write(spark_, p, text)
        if p.endswith(f"{ix.TOMBSTONES_FILE}.tmp"):
            raise RuntimeError("crash between tmp write and rename")

    monkeypatch.setattr(ix, "_write_small_file", die_after_tmp)
    with pytest.raises(RuntimeError, match="crash between"):
        ix.tombstone_ids(spark, path, [3, 4])
    monkeypatch.setattr(ix, "_write_small_file", real_write)

    # old list intact and readable; the in-flight ids were NOT applied
    assert ix._tombstone_list(spark, live) == [1, 2]
    # the writer lock was released by the finally — retry succeeds and
    # the rename-over simply replaces the stranded tmp
    assert ix.tombstone_ids(spark, path, [3, 4]) == 2
    assert ix._tombstone_list(spark, live) == [1, 2, 3, 4]
    # next generational rewrite reaps everything, sidecar and tmp alike
    ix.compact_index(spark, path)
    live2 = ix.live_root(spark, path)
    assert ix._tombstone_list(spark, live2) == []
    df, _ = ix.open_band_index(spark, path)
    assert df.where(df.doc_id.isin([1, 2, 3, 4])).isEmpty()


# -------------------------------------------------- tombstone id types
def _mk_band_index(spark, path, n_docs: int = 30):
    rows = [(i, " ".join(f"d{i}w{j}" for j in range(30))) for i in range(n_docs)]
    docs = spark.createDataFrame(rows, DSCHEMA)
    ix.create_band_index(docs, path, n_buckets=8)
    return docs


def test_tombstone_ids_rejects_wrong_type_before_persisting(spark, tmp_path):
    """r12 advice removed the accidental sorted() type-guard; the r13
    review showed the real hazard was never orderability — a wrong-type
    id WRITTEN to the sidecar crashes every later append-mode serve
    (``_ids_df``: 'LongType can not accept object x').  The request now
    fails fast against the sidecar's id type and nothing persists."""
    import pytest

    path = str(tmp_path / "bidx")
    _mk_band_index(spark, path)  # doc_id bigint
    with pytest.raises(TypeError, match="incompatible id"):
        ix.tombstone_ids(spark, path, [2, "x"])
    with pytest.raises(TypeError, match="incompatible id"):
        ix.tombstone_ids(spark, path, [True])  # bool is not an id
    assert ix.index_info(spark, path)["pending_tombstones"] == 0  # nothing wrote
    with pytest.raises(TypeError, match="incompatible id"):
        ix.retract_ids(spark, path, ["x"])
    # valid ints still land, and the index stays servable afterwards
    assert ix.tombstone_ids(spark, path, [2, 1, 2]) == 2
    docs = spark.createDataFrame(
        [(100, " ".join(f"n{j}" for j in range(30)))], DSCHEMA
    )
    assert ix.serve_incremental_dedup(docs, path).accepted.count() == 1


def test_tombstone_ids_preserves_request_order_same_type(spark, tmp_path):
    path = str(tmp_path / "bidx2")
    _mk_band_index(spark, path)
    assert ix.tombstone_ids(spark, path, [9, 3, 7, 3]) == 3
    live, _ = ix.live_index(spark, path)
    assert ix._tombstone_list(spark, live) == [9, 3, 7]
    # idempotent re-request
    assert ix.tombstone_ids(spark, path, [3, 9]) == 0
    assert ix.index_info(spark, path)["pending_tombstones"] == 3


def test_numpy_integral_ids_accepted_and_coerced(spark, tmp_path):
    """numpy.int64 ids are valid keys of a bigint index (pandas hands
    them over routinely); the guard must not reject them, and the
    persisted sidecar must hold plain JSON ints."""
    import numpy as np

    path = str(tmp_path / "bidx_np")
    _mk_band_index(spark, path)
    assert ix.tombstone_ids(spark, path, [np.int64(3), np.int32(5)]) == 2
    live, _ = ix.live_index(spark, path)
    stored = ix._tombstone_list(spark, live)
    assert stored == [3, 5]
    assert all(type(i) is int for i in stored)  # json-native, not numpy
    # the sidecar itself round-trips through json cleanly
    json.dumps(stored)
    # retraction with numpy ids physically removes the doc's band rows
    assert ix.retract_ids(spark, path, [np.int64(7)]) >= 1
    assert ix.index_info(spark, path)["pending_tombstones"] == 0  # reaped


def test_numpy_bool_still_rejected(spark, tmp_path):
    """np.bool_ is Integral-adjacent in spirit but must stay rejected:
    True tombstoning id 1 silently is the original hazard."""
    import numpy as np
    import pytest

    path = str(tmp_path / "bidx_npb")
    _mk_band_index(spark, path)
    with pytest.raises(TypeError, match="incompatible id"):
        ix.tombstone_ids(spark, path, [True])
    # np.bool_ is not a numbers.Integral subclass → rejected by class
    with pytest.raises(TypeError, match="incompatible id"):
        ix.tombstone_ids(spark, path, [np.bool_(True)])


def test_retract_ids_survives_unsortable_legacy_sidecar(spark, tmp_path):
    """A pre-r13-guard sidecar can hold wrong-typed junk (a stringified
    int under a bigint index) that both sorted() and createDataFrame
    choke on.  Retraction must fully SUCCEED regardless: the purge
    union is order-preserving dedup and the stored list passes through
    the type filter (junk can never match a stored row, so dropping it
    un-hides nothing); valid stored tombstones are still reaped and
    the rewrite heals the sidecar."""
    path = str(tmp_path / "bidx_legacy")
    _mk_band_index(spark, path)
    assert ix.tombstone_ids(spark, path, [4]) == 1
    live, _ = ix.live_index(spark, path)
    # the legacy artifact: ints mixed with a stringified int
    ix._replace_small_file(
        spark, f"{live}/{ix.TOMBSTONES_FILE}", json.dumps([4, "6"])
    )
    # serves stay resilient against the junk sidecar: id 4 is hidden,
    # the junk hides nothing, nothing crashes
    docs = spark.createDataFrame(
        [(200, " ".join(f"n{j}" for j in range(30)))], DSCHEMA
    )
    assert ix.serve_incremental_dedup(docs, path, append=False).accepted.count() == 1
    # retraction of a valid id succeeds AND reaps the valid stored
    # tombstone (4) into the purge; the new generation's sidecar is gone
    assert ix.retract_ids(spark, path, [9]) >= 1
    live2, _ = ix.live_index(spark, path)
    assert live2 != live
    assert ix._tombstone_list(spark, live2) == []
    stored = spark.read.parquet(live2)
    assert stored.where("doc_id IN (4, 9)").count() == 0  # both purged


def test_takedown_rewrite_heals_legacy_sidecar_junk(spark, tmp_path):
    """The next takedown's sidecar rewrite drops pre-guard junk instead
    of carrying it forward to crash a later serve/_ids_df."""
    path = str(tmp_path / "bidx_heal")
    _mk_band_index(spark, path)
    live, _ = ix.live_index(spark, path)
    ix._replace_small_file(
        spark, f"{live}/{ix.TOMBSTONES_FILE}", json.dumps([2, "junk", 5])
    )
    assert ix.tombstone_ids(spark, path, [7]) == 1
    assert ix._tombstone_list(spark, live) == [2, 5, 7]  # junk healed out
    # resurrection path is sorted()-free too: clearing an id with junk
    # present neither crashes nor loses the other pending takedowns
    ix._replace_small_file(
        spark, f"{live}/{ix.TOMBSTONES_FILE}", json.dumps([2, "junk", 5])
    )
    ix.clear_tombstones(spark, live, [5])
    assert [i for i in ix._tombstone_list(spark, live) if i != "junk"] == [2]


def test_tombstone_isin_boundary_parity(spark, tmp_path):
    """Crossing ``_TOMBSTONE_ISIN_MAX`` flips the serve-side hide from a
    pushed-down NOT-isin filter to a broadcast anti-join; both must hide
    exactly the same ids.  The backlog is driven ACROSS the real 1024
    boundary (1020 → 1030 pending) and the serve result is pinned equal
    to the isin path's (obtained by lifting the threshold)."""
    import random

    rng = random.Random(7)
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)], ESCHEMA
    )
    path = str(tmp_path / "ivf")
    ix.create_ivf_index(emb, path, nlist=4)

    # 1020 pending: isin side of the boundary
    dead = [1, 2, 3] + list(range(10_000, 10_000 + 1017))  # 3 real, rest unknown
    assert ix.tombstone_ids(spark, path, dead) == 1020
    below, _ = ix.open_ivf_index(spark, path)
    below_ids = {r.vec_id for r in below.select("vec_id").collect()}
    assert below_ids == set(range(60)) - {1, 2, 3}

    # +10 more crosses to the anti-join side
    more = [4, 5] + list(range(20_000, 20_008))
    assert ix.tombstone_ids(spark, path, more) == 10
    assert len(ix._tombstone_list(spark, ix.live_root(spark, path))) == 1030
    assert 1030 > ix._TOMBSTONE_ISIN_MAX
    above, meta = ix.open_ivf_index(spark, path)
    above_ids = {r.vec_id for r in above.select("vec_id").collect()}
    assert above_ids == set(range(60)) - {1, 2, 3, 4, 5}

    # parity: the same 1030-id backlog through the isin path
    import meta_morph_etl_databricks_spark.operators.index_store as mod

    old = mod._TOMBSTONE_ISIN_MAX
    try:
        mod._TOMBSTONE_ISIN_MAX = 4096
        isin_df, _ = ix.open_ivf_index(spark, path)
        assert {r.vec_id for r in isin_df.select("vec_id").collect()} == above_ids
    finally:
        mod._TOMBSTONE_ISIN_MAX = old

    # the big backlog serves through a top-k too (anti-join in the plan)
    q = spark.createDataFrame(
        [(0, [rng.uniform(-1, 1) for _ in range(8)])], "query_id long, embedding array<double>"
    )
    got = ix.serve_ivf_topk(q, path, k=5)
    assert got.count() == 5
    assert {r.vec_id for r in got.collect()}.isdisjoint({1, 2, 3, 4, 5})


def test_tombstone_ids_return_dedupes_request(spark, tmp_path):
    path = str(tmp_path / "bidx")
    _mk_band_index(spark, path)
    assert ix.tombstone_ids(spark, path, [5, 5, 6]) == 2  # not 3
    assert ix.tombstone_ids(spark, path, [6, 7, 7]) == 1
    assert ix.index_info(spark, path)["pending_tombstones"] == 3


def test_tombstone_list_survives_torn_tmp_when_final_present(spark, tmp_path):
    path = str(tmp_path / "bidx")
    _mk_band_index(spark, path)
    ix.tombstone_ids(spark, path, [1, 2])
    live = ix.live_root(spark, path)
    # a crashed update's torn tmp next to a healthy final list
    with open(f"{live}/{ix.TOMBSTONES_FILE}.tmp", "w") as f:
        f.write("[1, 2, 3")  # torn mid-write
    assert set(ix._tombstone_list(spark, live)) == {1, 2}


def test_tombstone_list_refuses_persistently_torn_sidecar(spark, tmp_path):
    """When the final name is ABSENT and the tmp fallback is torn past
    the retry budget, the read must RAISE — returning [] would
    transiently serve taken-down rows (the one illegal outcome)."""
    path = str(tmp_path / "bidx")
    _mk_band_index(spark, path)
    ix.tombstone_ids(spark, path, [1, 2])
    live = ix.live_root(spark, path)
    os.unlink(f"{live}/{ix.TOMBSTONES_FILE}")
    with open(f"{live}/{ix.TOMBSTONES_FILE}.tmp", "w") as f:
        f.write("[1, 2, 3")  # torn, and no final to fall back to
    with pytest.raises(IOError, match="takedown"):
        ix._tombstone_list(spark, live)
