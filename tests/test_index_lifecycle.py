"""Index lifecycle ops added in round 10: automated recluster
rebuild-and-swap for the semantic kind, id retraction (takedown)
across all kinds, and the O(1) sidecar row counter feeding the drift
dial.

The bar: recluster ≡ fresh bootstrap over the same corpus (bit-exact
cells, tree and serve decisions), retraction's policy consequence
holds (a previously-rejected near-dup of retracted content is accepted
on redelivery), and every crash window leaves a complete generation
live."""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from meta_morph_etl_databricks_spark.operators import index_store as ix

DIMS = 16
ESCHEMA = "vec_id long, embedding array<double>"
DSCHEMA = "doc_id long, text string"


def _corpus(n: int, seed: int = 7) -> list[tuple[int, list[float] | None]]:
    """Near-dup families + uniques + two corrupt rows, ids 0..n-1
    (same recipe as test_semantic_index)."""
    rng = random.Random(seed)
    base = [rng.uniform(-1, 1) for _ in range(DIMS)]
    rows: list[tuple[int, list[float] | None]] = []
    for i in range(n):
        if i == 24:
            v = None
        elif i == 31:
            v = [float("nan")] * DIMS
        elif i % 4 == 0:
            v = [x * (1.0 + 0.5 * (i % 3)) for x in base]
        elif i % 4 == 1:
            v = [x + rng.uniform(-0.005, 0.005) for x in base]
        else:
            v = [rng.uniform(-1, 1) for _ in range(DIMS)]
        rows.append((i, v))
    return rows


def _footer_rows(spark, path: str) -> int:
    meta = ix.read_index_meta(spark, path)
    return (
        spark.read.schema(ix._kind_schema(meta))
        .parquet(ix.live_root(spark, path))
        .count()
    )


# ------------------------------------------------------------ recluster
def test_recluster_matches_fresh_bootstrap(spark, tmp_path):
    """The parity contract: recluster over the index's own stored int8
    codes ≡ create_semantic_index over the full corpus at the same
    dials — identical meta (k, n_buckets, tree), identical (id, cell)
    rows, identical serve decisions afterwards."""
    rows = _corpus(60)
    emb = spark.createDataFrame(rows, ESCHEMA)
    boot = emb.where("vec_id < 20")
    inc1 = emb.where("vec_id >= 20 and vec_id < 40")
    inc2 = emb.where("vec_id >= 40")
    t = 0.995

    pa = str(tmp_path / "served")
    ix.create_semantic_index(boot, pa, k=None, iters=1, dims=DIMS, target_cell_size=5)
    ix.serve_incremental_semantic_dedup(inc1, pa, threshold=t)
    meta_a = ix.recluster_semantic_index(spark, pa)

    pb = str(tmp_path / "fresh")
    meta_b = ix.create_semantic_index(
        emb.where("vec_id < 40"), pb, k=None, iters=1, dims=DIMS, target_cell_size=5
    )
    for key in ("k", "n_buckets", "tree", "bootstrap_rows", "rows"):
        assert meta_a[key] == meta_b[key], key

    cells_a = sorted(
        (r.vec_id, r.cell) for r in ix.open_semantic_index(spark, pa)[0].collect()
    )
    cells_b = sorted(
        (r.vec_id, r.cell) for r in ix.open_semantic_index(spark, pb)[0].collect()
    )
    assert cells_a == cells_b and len(cells_a) == 40

    got_a = sorted(
        r.vec_id
        for r in ix.serve_incremental_semantic_dedup(inc2, pa, threshold=t)
        .accepted.collect()
    )
    got_b = sorted(
        r.vec_id
        for r in ix.serve_incremental_semantic_dedup(inc2, pb, threshold=t)
        .accepted.collect()
    )
    assert got_a == got_b and 0 < len(got_a) < inc2.count()


def test_recluster_resets_drift_dial_and_counter(spark, tmp_path):
    """End-to-end drift story: serves grow occupancy past the dial,
    recluster re-sizes k to the grown corpus, the dial clears, and the
    sidecar row counter stays equal to the counted value through
    create → serve → recluster → compact → retract."""
    path = str(tmp_path / "idx")
    boot = spark.createDataFrame(
        [(i, [float(i % 5), 1.0] + [0.0] * (DIMS - 2)) for i in range(10)], ESCHEMA
    )
    ix.create_semantic_index(boot, path, k=2, iters=1, dims=DIMS, target_cell_size=5)
    assert ix.read_index_meta(spark, path)["rows"] == _footer_rows(spark, path) == 10

    inc = spark.createDataFrame(
        [(100 + i, [float(i % 7), -1.0] + [0.0] * (DIMS - 2)) for i in range(80)],
        ESCHEMA,
    )
    ix.serve_incremental_semantic_dedup(inc, path, threshold=0.9999)
    assert ix.read_index_meta(spark, path)["rows"] == _footer_rows(spark, path) == 90
    assert ix.semantic_recluster_due(spark, path, drift_factor=4.0)

    meta = ix.recluster_semantic_index(spark, path)
    assert meta["k"] == 18  # auto_k(90, target 5) — re-sized to the corpus
    assert not ix.semantic_recluster_due(spark, path, drift_factor=4.0)
    assert ix.read_index_meta(spark, path)["rows"] == _footer_rows(spark, path) == 90

    ix.compact_index(spark, path)
    assert ix.read_index_meta(spark, path)["rows"] == _footer_rows(spark, path) == 90
    removed = ix.retract_ids(spark, path, [100, 101, 102])
    assert removed == 3
    assert ix.read_index_meta(spark, path)["rows"] == _footer_rows(spark, path) == 87


def test_recluster_crash_windows_and_legacy(spark, tmp_path):
    """A crashed recluster leaves the pointer on the old complete
    generation; recovery reaps the debris and serving continues against
    pre-recluster state.  A generation's files copied to a bare root
    are no index: the rewrite refuses it (the swap needs the pointer)."""
    import shutil

    path = str(tmp_path / "idx")
    emb = spark.createDataFrame(_corpus(40), ESCHEMA)
    ix.create_semantic_index(
        emb.where("vec_id < 30"), path, k=4, iters=1, dims=DIMS
    )
    live0 = ix.live_root(spark, path)
    meta0 = ix.read_index_meta(spark, path)

    # crash mid-rebuild: half-built gen (no meta), pointer unchanged
    os.makedirs(f"{path}/gen-0000005")
    open(f"{path}/gen-0000005/partial.parquet", "w").write("x")
    assert ix.live_root(spark, path) == live0
    assert ix.recover_compaction(spark, path) == "finished"
    assert not os.path.exists(f"{path}/gen-0000005")
    assert ix.read_index_meta(spark, path) == meta0

    # crash in the pointer-flip window after a completed rebuild: no
    # pointer at all — passive readers fall back, recovery re-points
    ix.recluster_semantic_index(spark, path)
    live1 = ix.live_root(spark, path)
    os.remove(f"{path}/{ix.CURRENT_FILE}")
    assert ix.live_root(spark, path) == live1
    assert ix.recover_compaction(spark, path) == "restored"
    r = ix.serve_incremental_semantic_dedup(
        emb.where("vec_id >= 30"), path, threshold=0.995
    )
    assert r.accepted.count() > 0

    # a generation's files copied to a bare root are no index
    flat = str(tmp_path / "flat")
    shutil.copytree(ix.live_root(spark, path), flat)
    with pytest.raises(ValueError, match="no index"):
        ix.recluster_semantic_index(spark, flat)
    with pytest.raises(ValueError, match="no index"):
        ix.retract_ids(spark, flat, [1])


# ------------------------------------------------------------ retraction
def _band_docs(spark):
    base = "the quick brown fox jumps over the lazy dog and then some more words " * 4
    rows = [(0, base)] + [
        (i, " ".join(f"u{i}w{j}" for j in range(30))) for i in range(1, 20)
    ]
    return spark.createDataFrame(rows, DSCHEMA), base


def test_retraction_policy_band(spark, tmp_path):
    """The policy consequence on the lexical kind: B was rejected as a
    near-dup of indexed A; after retracting the group {A, B}, a
    redelivered near-dup C is ACCEPTED (control: without retraction it
    is rejected)."""
    path = str(tmp_path / "bidx")
    docs, base = _band_docs(spark)
    ix.create_band_index(docs, path, n_buckets=8)

    b = spark.createDataFrame([(100, base)], DSCHEMA)
    assert ix.serve_incremental_dedup(b, path).accepted.isEmpty()  # B rejected

    c = spark.createDataFrame([(200, base)], DSCHEMA)
    assert ix.serve_incremental_dedup(c, path, append=False).accepted.isEmpty()

    removed = ix.retract_ids(spark, path, [0, 100])
    assert removed > 0
    got = ix.serve_incremental_dedup(c, path).accepted
    assert [r.doc_id for r in got.collect()] == [200]  # accepted post-takedown
    # the index no longer holds any trace of the retracted ids
    idx_ids = {r.doc_id for r in ix.open_band_index(spark, path)[0].collect()}
    assert idx_ids.isdisjoint({0, 100}) and 200 in idx_ids


def test_retraction_policy_embed_and_semantic(spark, tmp_path):
    """Same consequence on the two vector kinds (scaled copies: int8
    qcos exactly 1.0)."""
    rng = random.Random(3)
    base = [rng.uniform(-1, 1) for _ in range(DIMS)]
    uniq = [
        [rng.uniform(-1, 1) for _ in range(DIMS)] for _ in range(10)
    ]
    boot = spark.createDataFrame(
        [(0, base)] + [(i + 1, uniq[i]) for i in range(10)], ESCHEMA
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
        assert serve(c, path, threshold=0.999, append=False).accepted.isEmpty()
        assert ix.retract_ids(spark, path, [0, 100]) == 2
        got = serve(c, path, threshold=0.999).accepted
        assert [r.vec_id for r in got.collect()] == [200], kind


def test_retraction_clears_seen_store_and_survives_stream_crash(spark, tmp_path):
    """Streaming redelivery of a retracted id is RE-PROCESSED (its seen
    entry is retracted with its data), and a crash in the retraction's
    pointer-flip window recovers at the next batch without resurrecting
    the retracted content."""
    from meta_morph_etl_databricks_spark.streaming.dedup import (
        stream_incremental_dedup,
    )

    docs, base = _band_docs(spark)
    src = tmp_path / "src"
    src.mkdir()
    path = str(tmp_path / "sidx")
    acc = str(tmp_path / "sacc")

    def run_once(n):
        q = stream_incremental_dedup(
            spark.readStream.schema(DSCHEMA).parquet(str(src) + "/*"),
            path,
            acc,
            str(tmp_path / "sck"),
            n_buckets=8,
        )
        q.awaitTermination(120)

    docs.write.parquet(str(src / "b1"))
    run_once(1)
    assert 0 in {r.doc_id for r in spark.read.parquet(acc).collect()}

    # takedown doc 0, then simulate a crash in the flip window
    ix.retract_ids(spark, path, [0])
    os.remove(f"{path}/{ix.CURRENT_FILE}")

    # redeliver doc 0's id with fresh content: the seen filter must NOT
    # drop it (entry retracted), and the near-dup of the retracted text
    # must be accepted (data retracted) — through the recovered pointer
    spark.createDataFrame([(0, base)], DSCHEMA).write.parquet(str(src / "b2"))
    run_once(2)
    accepted = [r.doc_id for r in spark.read.parquet(acc).collect()]
    assert accepted.count(0) == 2  # bootstrap acceptance + post-takedown redelivery
    live = ix.live_root(spark, path)
    seen = {r.doc_id for r in spark.read.parquet(f"{live}/_seen_ids").collect()}
    assert 0 in seen  # re-recorded by the redelivery batch


def test_retraction_stream_crash_semantic_kind(spark, tmp_path):
    """Same mid-retract crash story on the SEMANTIC kind: the streaming
    sink's per-batch recovery re-points at the retraction's generation,
    the retracted vector's near-dup is accepted, and the retracted id's
    redelivery is re-processed (seen entry purged with the data)."""
    from meta_morph_etl_databricks_spark.streaming.dedup import (
        stream_incremental_semantic_dedup,
    )

    rng = random.Random(5)
    base = [rng.uniform(-1, 1) for _ in range(DIMS)]
    rows = [(0, base)] + [
        (i, [rng.uniform(-1, 1) for _ in range(DIMS)]) for i in range(1, 8)
    ]
    src = tmp_path / "src"
    src.mkdir()
    path = str(tmp_path / "semidx")
    acc = str(tmp_path / "semacc")

    def run_once():
        q = stream_incremental_semantic_dedup(
            spark.readStream.schema(ESCHEMA).parquet(str(src) + "/*"),
            path,
            acc,
            str(tmp_path / "semck"),
            threshold=0.999,
            k=2,
            dims=DIMS,
        )
        q.awaitTermination(120)

    spark.createDataFrame(rows, ESCHEMA).write.parquet(str(src / "b1"))
    run_once()
    assert 0 in {r.vec_id for r in spark.read.parquet(acc).collect()}

    ix.retract_ids(spark, path, [0])
    os.remove(f"{path}/{ix.CURRENT_FILE}")  # crash in the flip window

    # redeliver id 0 (seen purged → re-processed) plus a scaled copy of
    # the retracted vector (data purged → accepted, where pre-retraction
    # it would have been rejected)
    b2 = [(0, base), (100, [x * 1.5 for x in base])]
    spark.createDataFrame(b2, ESCHEMA).write.parquet(str(src / "b2"))
    run_once()
    accepted = [r.vec_id for r in spark.read.parquet(acc).collect()]
    assert accepted.count(0) == 2
    # within-batch policy still applies post-retraction: 0 (lower id,
    # same content) wins, 100 rejects against it
    assert 100 not in accepted


def test_retract_unknown_ids_is_noop(spark, tmp_path):
    path = str(tmp_path / "idx")
    docs, _ = _band_docs(spark)
    ix.create_band_index(docs, path, n_buckets=8)
    n0 = ix.open_band_index(spark, path)[0].count()
    assert ix.retract_ids(spark, path, [777, 888]) == 0
    assert ix.open_band_index(spark, path)[0].count() == n0
    with pytest.raises(ValueError, match="nothing to retract"):
        ix.retract_ids(spark, str(tmp_path / "nope"), [1])


# ------------------------------------------------ compaction dial
def _mk_band_index(spark, path, n_docs: int = 30):
    rows = [(i, " ".join(f"d{i}w{j}" for j in range(30))) for i in range(n_docs)]
    docs = spark.createDataFrame(rows, DSCHEMA)
    ix.create_band_index(docs, path, n_buckets=8)
    return docs


def test_compact_due_counts_appends_and_resets_on_rewrite(spark, tmp_path):
    """r14: the small-file dial.  Committed appends bump the _appends
    counter O(1); compact_due fires at the threshold; ANY generational
    rewrite resets it for free (the counter lives in the live gen dir);
    index_info surfaces both."""
    path = str(tmp_path / "bidx_dial")
    docs = _mk_band_index(spark, path)
    assert ix.compact_due(spark, path, max_appends=2) is False
    assert ix.index_info(spark, path)["appends_since_rewrite"] == 0

    def inc(ids):
        rows = [(i, " ".join(f"x{i}w{j}" for j in range(30))) for i in ids]
        return spark.createDataFrame(rows, DSCHEMA)

    ix.serve_incremental_dedup(inc([100, 101]), path, append=True)
    assert ix.index_info(spark, path)["appends_since_rewrite"] == 1
    assert ix.compact_due(spark, path, max_appends=2) is False
    ix.serve_incremental_dedup(inc([102]), path, append=True)
    info = ix.index_info(spark, path)
    assert info["appends_since_rewrite"] == 2
    assert ix.compact_due(spark, path, max_appends=2) is True
    assert info["compact_due"] is False  # default threshold (8) not yet hit

    # the dial is O(1): it reads one small file, no index scan — pin the
    # structural property by pointing it at a counter we hand-write
    live, meta = ix.live_index(spark, path)
    ix._replace_small_file(spark, f"{live}/{ix.APPENDS_FILE}", "99")
    assert ix.compact_due(spark, path) is True
    assert ix.index_info(spark, path)["compact_due"] is True

    # any generational rewrite resets: compact, then the counter is gone
    ix.compact_index(spark, path)
    info2 = ix.index_info(spark, path)
    assert info2["appends_since_rewrite"] == 0
    assert ix.compact_due(spark, path, max_appends=2) is False
    # post-reset appends count again and serving still works
    ix.serve_incremental_dedup(inc([103]), path, append=True)
    assert ix.index_info(spark, path)["appends_since_rewrite"] == 1
    assert docs is not None


def test_streaming_batches_bump_the_compaction_dial(spark, tmp_path):
    """The streaming sinks' per-batch appends feed the same _appends
    counter the batch dial reads — compact_every and compact_due are
    one policy counted two ways, and a compact_every trigger resets
    the counter like any generational rewrite."""
    import random

    from meta_morph_etl_databricks_spark.streaming.dedup import stream_ivf_ingest

    rng = random.Random(5)
    schema = "vec_id long, embedding array<double>"

    def vecs(ids):
        return [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in ids]

    src = tmp_path / "dsrc"
    src.mkdir()
    path = str(tmp_path / "didx")
    ckpt = str(tmp_path / "dckpt")

    def run_once(**kw):
        stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
        q = stream_ivf_ingest(stream, path, ckpt, **kw)
        q.awaitTermination(120)

    spark.createDataFrame(vecs(range(30)), schema).write.parquet(str(src / "b1"))
    run_once()  # bootstrap batch: create, no append yet
    assert ix.index_info(spark, path)["appends_since_rewrite"] == 0
    spark.createDataFrame(vecs(range(30, 60)), schema).write.parquet(str(src / "b2"))
    run_once()
    assert ix.index_info(spark, path)["appends_since_rewrite"] == 1
    assert ix.compact_due(spark, path, max_appends=1) is True
    # a compact_every-triggered compaction resets the dial
    spark.createDataFrame(vecs(range(60, 90)), schema).write.parquet(str(src / "b3"))
    run_once(compact_every=1)
    assert ix.index_info(spark, path)["appends_since_rewrite"] == 0
    assert ix.compact_due(spark, path, max_appends=1) is False
