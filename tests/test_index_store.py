"""Persisted index storage (operators/index_store.py): partitioned
layout + metadata sidecar + pruned serve.

The contracts under test:

1. serve parity — the pfx-pruned serve path accepts EXACTLY what the
   unpruned DataFrame-index path accepts (pruning only skips buckets
   the increment cannot touch);
2. sidecar validation — every build-param axis (num_hashes, bands,
   dims, n_planes, center) raises loudly on mismatch, and the raw-
   DataFrame fallback probe catches what the data can attest
   (signature width, band count, code width);
3. default-safe centering — create_embedding_index computes and
   persists the bootstrap corpus mean, corrupt vectors (NULL / NaN /
   wrong-length) poisoning neither the center nor a bucket.
"""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from meta_morph_etl_databricks_spark.operators import index_store as ix
from meta_morph_etl_databricks_spark.operators.incremental import (
    embedding_bucket_index,
    incremental_dedup,
    incremental_embed_near_dup,
    minhash_band_index,
)


@pytest.fixture(scope="module")
def corpus(spark):
    base = "the quick brown fox jumps over the lazy dog and then some more words " * 4
    rows = []
    for i in range(60):
        if i % 5 == 0:
            rows.append((i, base))
        elif i % 5 == 1:
            rows.append((i, base + f"tail{i}"))
        else:
            rows.append((i, " ".join(f"u{i}w{j}" for j in range(30))))
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def emb(spark):
    import random

    rng = random.Random(7)
    dims = 16
    base = [rng.uniform(-1, 1) for _ in range(dims)]
    rows = []
    for i in range(40):
        if i == 14:
            v = None
        elif i == 19:
            v = [float("nan")] * dims
        elif i == 22:
            v = [0.5] * (dims + 3)  # wrong-length finite
        elif i % 4 == 0:
            v = list(base)
        elif i % 4 == 1:
            v = [x + rng.uniform(-0.01, 0.01) for x in base]
        else:
            v = [rng.uniform(-1, 1) for _ in range(dims)]
        rows.append((i, v))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_band_store_serve_matches_dataframe_path(spark, corpus, tmp_path):
    """Pruned persisted serve ≡ unpruned DataFrame-index dedup, and the
    append grows the index by ALL increment docs (the policy's
    index-grows-by-everything rule) into the partitioned layout."""
    d = str(tmp_path / "bandidx")
    seed = corpus.where("doc_id < 40")
    inc = corpus.where("doc_id >= 40")
    meta = ix.create_band_index(seed, d, n_buckets=16)
    assert meta == ix.read_index_meta(spark, d)

    res = ix.serve_incremental_dedup(inc, d, append=True)
    got = sorted(r.doc_id for r in res.accepted.collect())
    plain = incremental_dedup(
        inc,
        minhash_band_index(seed),
        minhash_band_index(inc),
        index_meta={"num_hashes": 16, "bands": 4},
    )
    want = sorted(r.doc_id for r in plain.accepted.collect())
    assert got == want

    idx, _ = ix.open_band_index(spark, d)
    assert idx.select("doc_id").distinct().count() == 60  # seed + ALL of inc
    # the layout really is partitioned: pfx is a partition column with
    # multiple directories (pruning has something to prune)
    assert idx.select("pfx").distinct().count() > 1


def test_band_store_multi_increment_chain(spark, corpus, tmp_path):
    """Three persisted serves in sequence accept the same set as the
    DataFrame-index parity tests pin against one-shot — the store
    composes across increments, not just once."""
    d = str(tmp_path / "chain")
    ix.create_band_index(corpus.where("doc_id < 0"), d, n_buckets=8)  # empty bootstrap
    got: list[int] = []
    for lo, hi in [(0, 20), (20, 41), (41, 60)]:
        inc = corpus.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        got.extend(
            r.doc_id for r in ix.serve_incremental_dedup(inc, d).accepted.collect()
        )
    # reference: single DataFrame-path run over the same increments
    index = spark.createDataFrame(
        [], "doc_id long, band_idx int, band_key long, sig array<bigint>"
    )
    want: list[int] = []
    for lo, hi in [(0, 20), (20, 41), (41, 60)]:
        inc = corpus.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        res = incremental_dedup(
            inc, index, minhash_band_index(inc), index_meta={"num_hashes": 16, "bands": 4}
        )
        want.extend(r.doc_id for r in res.accepted.collect())
        index = index.union(res.index_rows.select(*index.columns))
    assert sorted(got) == sorted(want)


def test_band_meta_mismatch_raises(spark, corpus, tmp_path):
    d = str(tmp_path / "meta")
    ix.create_band_index(corpus.limit(10), d, n_buckets=8)
    with pytest.raises(ValueError, match="num_hashes"):
        ix.open_band_index(spark, d, num_hashes=8)
    with pytest.raises(ValueError, match="bands"):
        ix.open_band_index(spark, d, bands=8)
    idx, meta = ix.open_band_index(spark, d)  # no expectations: fine
    with pytest.raises(ValueError, match="num_hashes"):
        rows = minhash_band_index(corpus, num_hashes=8, bands=4)
        incremental_dedup(corpus, idx.drop("pfx"), rows, index_meta=meta, num_hashes=8, bands=4)
    with pytest.raises(ValueError, match="bands"):
        rows = minhash_band_index(corpus, num_hashes=16, bands=2)
        incremental_dedup(corpus, idx.drop("pfx"), rows, index_meta=meta, num_hashes=16, bands=2)


def test_band_probe_fallback_catches_bands_mismatch(spark, corpus):
    """ADVICE r6: without a sidecar, a bands mismatch at the SAME
    num_hashes used to silently yield zero candidates — the fallback
    probe now checks max band_idx too."""
    idx = minhash_band_index(corpus.limit(10), num_hashes=16, bands=8)
    with pytest.raises(ValueError, match="8 bands"):
        incremental_dedup(corpus, idx, minhash_band_index(corpus), num_hashes=16, bands=4)
    # width axis still covered (the original probe's test lives in
    # test_incremental_dedup.py::test_index_width_mismatch_raises)


def test_open_band_index_meta_only_path_reads_empty(spark, corpus, tmp_path):
    """Crash between sidecar write and first row write must read as an
    EMPTY index, not a schema-inference failure."""
    d = str(tmp_path / "metaonly")
    ix.init_index(
        spark,
        d,
        {"kind": ix.BAND_KIND, "id_col": "doc_id", "num_hashes": 16, "bands": 4, "n_buckets": 8},
    )
    idx, meta = ix.open_band_index(spark, d)
    assert idx.count() == 0
    uniq = corpus.where("doc_id in (2, 3, 4)")  # pairwise-unique docs
    res = ix.serve_incremental_dedup(uniq, d, append=False)
    assert res.accepted.count() == 3  # empty index rejects nothing


def test_embed_store_auto_center_and_serve_parity(spark, emb, tmp_path):
    """create_embedding_index's default center is the bootstrap mean
    (finite vectors only — one NaN vector must NOT poison it into NaN,
    which would collapse every honest vector into bucket 0), persisted
    in the sidecar; the pruned serve accepts exactly what the
    DataFrame path accepts with that same center."""
    d = str(tmp_path / "embidx")
    seed = emb.where("vec_id < 20")
    inc = emb.where("vec_id >= 20")
    meta = ix.create_embedding_index(seed, d, dims=16, n_planes=6, n_buckets=8)
    assert all(math.isfinite(c) for c in meta["center"])
    assert any(c != 0.0 for c in meta["center"])  # actually computed
    assert ix.read_index_meta(spark, d)["center"] == meta["center"]  # JSON-exact

    res = ix.serve_incremental_embed_near_dup(inc, d, threshold=0.995)
    got = sorted(r.vec_id for r in res.accepted.collect())
    cidx = embedding_bucket_index(seed, 16, 6, center=meta["center"])
    plain = incremental_embed_near_dup(
        inc,
        cidx,
        embedding_bucket_index(inc, 16, 6, center=meta["center"]),
        threshold=0.995,
        dims=16,
        n_planes=6,
        center=meta["center"],
    )
    want = sorted(r.vec_id for r in plain.accepted.collect())
    assert got == want and got  # non-trivial

    # append carried ALL increment rows — corrupt ones included, under
    # the NULL-pfx partition no serve ever reads
    idx, _ = ix.open_embedding_index(spark, d)
    assert idx.select("vec_id").distinct().count() == 40
    assert idx.where(F.col("pfx").isNull()).count() > 0


def test_embed_meta_mismatch_raises_every_axis(spark, emb, tmp_path):
    d = str(tmp_path / "embmeta")
    meta = ix.create_embedding_index(
        emb.where("vec_id < 20"), d, dims=16, n_planes=6, n_buckets=8
    )
    with pytest.raises(ValueError, match="dims"):
        ix.open_embedding_index(spark, d, dims=8)
    with pytest.raises(ValueError, match="n_planes"):
        ix.open_embedding_index(spark, d, n_planes=4)
    with pytest.raises(ValueError, match="center"):
        ix.open_embedding_index(spark, d, center=[0.0] * 16, check_center=True)
    idx, _ = ix.open_embedding_index(spark, d, dims=16, n_planes=6)
    with pytest.raises(ValueError, match="center"):
        incremental_embed_near_dup(
            emb,
            idx.drop("pfx"),
            embedding_bucket_index(emb, 16, 6),
            dims=16,
            n_planes=6,
            center=None,
            index_meta=meta,
        )


def test_embed_probe_fallback_catches_dims(spark, emb):
    idx = embedding_bucket_index(emb.where("vec_id < 20"), dims=16, n_planes=6)
    with pytest.raises(ValueError, match="16-dim"):
        incremental_embed_near_dup(emb, idx, embedding_bucket_index(emb, 8, 6), dims=8, n_planes=6)


def test_wrong_length_vector_gets_null_bucket(spark, emb):
    """ADVICE r6: a wrong-LENGTH finite vector used to sign every bit 0
    (zip_with NULL-pads the dot) and pile into bucket 0 with honest
    residents; it must bucket NULL like the other corrupt classes."""
    rows = {r.vec_id: r.bucket for r in embedding_bucket_index(emb, dims=16, n_planes=6).collect()}
    assert rows[22] is None  # wrong-length finite
    assert rows[14] is None and rows[19] is None  # NULL / NaN
    assert rows[0] is not None  # honest


def test_wrong_kind_raises(spark, corpus, emb, tmp_path):
    bd = str(tmp_path / "b")
    ed = str(tmp_path / "e")
    ix.create_band_index(corpus.limit(5), bd, n_buckets=8)
    ix.create_embedding_index(emb.where("vec_id < 10"), ed, dims=16, n_planes=4, n_buckets=8)
    with pytest.raises(ValueError, match="kind"):
        ix.open_embedding_index(spark, bd)
    with pytest.raises(ValueError, match="kind"):
        ix.open_band_index(spark, ed)


def test_compact_index_dedupes_preserves_meta_and_seen(spark, corpus, tmp_path):
    """Compaction drops replay-duplicated rows, keeps the sidecar and
    the streaming seen store, serves identically afterwards — and the
    swap MOVES the generation pointer (the old generation dir is gone,
    the new one holds everything)."""
    d = str(tmp_path / "cidx")
    seed = corpus.where("doc_id < 40")
    inc = corpus.where("doc_id >= 40")
    meta = ix.create_band_index(seed, d, n_buckets=8)
    ix.serve_incremental_dedup(inc, d, append=True)
    ix.serve_incremental_dedup(inc, d, append=True)  # replayed append → dup rows
    # plant a seen sidecar like the streaming sink's, in the live gen
    live0 = ix.live_root(spark, d)
    assert live0 != d  # create_* builds the generation layout
    spark.createDataFrame([(1, 0)], "doc_id long, spfx int").write.partitionBy(
        "spfx"
    ).parquet(f"{live0}/_seen_ids")

    before, _ = ix.open_band_index(spark, d)
    n_before, n_distinct = before.count(), before.distinct().count()
    assert n_before > n_distinct  # the replay really duplicated rows

    ix.compact_index(spark, d)
    live1 = ix.live_root(spark, d)
    # pointer moved; the old gen is RETAINED as the live gen's
    # predecessor (in-flight reader grace) until a newer flip makes it
    # a grandparent — then the next writer entry reaps it
    assert live1 != live0 and os.path.exists(live0)
    assert ix.recover_compaction(spark, d) == "clean"
    assert os.path.exists(live0)
    ix.compact_index(spark, d)  # live0 becomes a grandparent
    assert ix.recover_compaction(spark, d) == "finished"
    assert not os.path.exists(live0) and os.path.exists(live1)
    after, meta2 = ix.open_band_index(spark, d)
    # compaction recounts the r11 rows counter to the post-distinct
    # truth (the manual replay write above bypassed the bump)
    assert meta2 == dict(meta, rows=n_distinct)
    assert after.count() == n_distinct
    assert spark.read.parquet(f"{live1}/_seen_ids").count() == 1  # seen survived
    # one file per bucket
    import glob

    for bucket_dir in glob.glob(f"{live1}/pfx=*"):
        assert len(glob.glob(f"{bucket_dir}/*.parquet")) == 1
    # serving after compaction behaves exactly like before: everything
    # in inc is already indexed, so only sub-shingle docs could pass —
    # this corpus has none, so nothing is accepted
    replay = ix.serve_incremental_dedup(inc, d, append=False)
    assert replay.accepted.count() == 0


def test_auto_index_buckets_rule():
    assert ix.auto_index_buckets(0) == 32  # floor
    assert ix.auto_index_buckets(1_000_000, target_rows_per_bucket=500) == 2000
    # 10× corpus → 10× buckets → constant rows per bucket (the flat-serve argument)
    assert ix.auto_index_buckets(10_000_000, target_rows_per_bucket=500) == 20000
    assert ix.auto_index_buckets(10**12) == 1 << 20  # cap bounds dir count


def _plant_seen(spark, d, doc_id=1):
    live = ix.live_root(spark, d)
    spark.createDataFrame([(doc_id, 0)], "doc_id long, spfx int").write.mode(
        "append"
    ).partitionBy("spfx").parquet(f"{live}/_seen_ids")


def test_recover_compaction_pointer_crash_windows(spark, corpus, tmp_path):
    """Every crash point of the pointer-swap compaction leaves the
    pointer on a COMPLETE generation (or recoverable to one):

    - crash mid-build: a half-built next gen (no meta) sits beside the
      live one — readers never see it (pointer unchanged), recovery
      deletes it;
    - crash in the delete+rename pointer-fallback window: no pointer
      file at all — readers fall back to the highest complete gen
      PASSIVELY, recovery re-installs the pointer;
    - crash after flip, before cleanup: the old gen is stale debris —
      recovery deletes it."""
    import shutil

    d = str(tmp_path / "ridx")
    seed = corpus.where("doc_id < 40")
    inc = corpus.where("doc_id >= 40")
    meta = ix.create_band_index(seed, d, n_buckets=8)
    ix.serve_incremental_dedup(inc, d, append=True)
    _plant_seen(spark, d)
    live0 = ix.live_root(spark, d)
    n0 = ix.open_band_index(spark, d)[0].count()

    # (1) crash mid-build: half-written next gen without meta
    os.makedirs(f"{d}/gen-0000001")
    open(f"{d}/gen-0000001/partial.parquet", "w").write("x")
    assert ix.live_root(spark, d) == live0  # readers unaffected
    assert ix.recover_compaction(spark, d) == "finished"
    assert not os.path.exists(f"{d}/gen-0000001")

    # (2) pointer lost (delete+rename window): passive fallback reads the
    # highest complete gen; recovery re-points
    os.remove(f"{d}/{ix.CURRENT_FILE}")
    assert ix.live_root(spark, d) == live0
    after, meta2 = ix.open_band_index(spark, d)  # reads fine with no pointer
    # rows counter was bumped by the append — everything else identical
    assert meta2 == dict(meta, rows=n0) and after.count() == n0
    assert ix.recover_compaction(spark, d) == "restored"
    assert ix.live_root(spark, d) == live0

    # (3) crash after flip: the old gen is the new live's PREDECESSOR —
    # retained one writer cycle for in-flight readers, reaped only once
    # a newer flip makes it a grandparent
    shutil.copytree(live0, f"{d}/gen-0000007")
    ix._install_pointer(spark, d, "gen-0000007")
    assert ix.live_root(spark, d).endswith("gen-0000007")
    assert ix.recover_compaction(spark, d) == "clean"
    assert os.path.exists(live0)  # predecessor kept
    assert spark.read.parquet(f"{ix.live_root(spark, d)}/_seen_ids").count() == 1

    ix.compact_index(spark, d)  # a fresh compaction completes (gen 8 live)
    assert spark.read.parquet(f"{ix.live_root(spark, d)}/_seen_ids").count() == 1
    assert ix.recover_compaction(spark, d) == "finished"  # reaps the grandparent
    assert not os.path.exists(live0) and os.path.exists(f"{d}/gen-0000007")
    assert ix.recover_compaction(spark, d) == "clean"


def test_reader_safe_during_compaction(spark, corpus, tmp_path):
    """The round-8 two-rename swap had a no-live-directory window a
    concurrent reader could land in.  With the pointer swap, a reader
    thread hammering open+count while compactions swap must never error
    and always see a complete index.

    Retention contract being exercised: a resolved generation survives
    until a NEWER flip makes it a grandparent AND a writer entry runs —
    so a reader is safe as long as its scan is shorter than one full
    writer cycle.  The writer loop spaces its cycles (sleep > one reader
    iteration) exactly as a production compaction schedule does; truly
    zero-gap rebuild loops would need deeper retention (the dial every
    MVCC table format exposes)."""
    import threading
    import time as _time

    d = str(tmp_path / "cridx")
    ix.create_band_index(corpus.where("doc_id < 40"), d, n_buckets=8)
    _plant_seen(spark, d)
    inc = corpus.where("doc_id >= 40")
    ix.serve_incremental_dedup(inc, d, append=True)
    expect = ix.open_band_index(spark, d)[0].select("doc_id").distinct().count()

    errors: list[Exception] = []
    stop = threading.Event()

    def reader():
        try:
            while not stop.is_set():
                df, _ = ix.open_band_index(spark, d)
                got = df.select("doc_id").distinct().count()
                assert got == expect, f"reader saw {got} != {expect}"
        except Exception as e:  # pragma: no cover - failure path
            errors.append(e)

    t = threading.Thread(target=reader)
    t.start()
    try:
        for _ in range(3):
            ix.compact_index(spark, d)
            _time.sleep(1.5)  # spaced writer cycles — the retention contract
    finally:
        stop.set()
        t.join(60)
    assert not errors, f"reader errored during compaction: {errors[0]}"


def test_seen_store_travels_with_the_generation(spark, corpus, tmp_path):
    """Compaction re-packs the seen sidecar into the NEXT generation
    (deduplicating replay rows) before the pointer flips — a crash on
    either side of the flip leaves a complete tree live."""
    d = str(tmp_path / "sidx")
    ix.create_band_index(corpus.where("doc_id < 40"), d, n_buckets=8)
    _plant_seen(spark, d, doc_id=1)
    _plant_seen(spark, d, doc_id=1)  # replayed-batch duplicate
    _plant_seen(spark, d, doc_id=2)
    ix.compact_index(spark, d)
    live = ix.live_root(spark, d)
    got = sorted(r.doc_id for r in spark.read.parquet(f"{live}/_seen_ids").collect())
    assert got == [1, 2]


@pytest.mark.parametrize("kind", ["band", "embed", "semantic"])
def test_stream_sink_and_batch_serve_share_one_path(spark, corpus, emb, tmp_path, kind):
    """The streaming sinks run the batch serves' plan and append steps:
    two micro-batches through a sink, then the same two increments
    through ``serve_*(append=True)`` against a fresh index initialized
    from the sink's own sidecar, accept the same ids and leave the same
    multiset of index rows (NULL-pfx corrupt rows included)."""
    from meta_morph_etl_databricks_spark.streaming import dedup as sd

    if kind == "band":
        data, id_col, cut, end = corpus, "doc_id", 30, 60
        sink = lambda s, *p: sd.stream_incremental_dedup(s, *p)  # noqa: E731
        serve = ix.serve_incremental_dedup
    else:
        data, id_col, cut, end = emb, "vec_id", 20, 40
        if kind == "embed":
            sink = lambda s, *p: sd.stream_incremental_embed_near_dup(s, *p, dims=16)  # noqa: E731
            serve = ix.serve_incremental_embed_near_dup
        else:
            sink = lambda s, *p: sd.stream_incremental_semantic_dedup(  # noqa: E731
                s, *p, k=3, dims=16
            )
            serve = ix.serve_incremental_semantic_dedup
    batches = [data.where(F.col(id_col) < cut), data.where(F.col(id_col) >= cut)]

    src = tmp_path / "src"
    src.mkdir()
    sidx, acc, ckpt = str(tmp_path / "sidx"), str(tmp_path / "acc"), str(tmp_path / "ckpt")
    for i, b in enumerate(batches):
        b.write.parquet(str(src / f"b{i}"))
        stream = spark.readStream.schema(data.schema).parquet(str(src) + "/*")
        sink(stream, sidx, acc, ckpt).awaitTermination(180)
    sink_ids = sorted(r[0] for r in spark.read.parquet(acc).select(id_col).collect())
    live, meta = ix.live_index(spark, sidx)

    bidx = str(tmp_path / "bidx")
    ix.init_index(spark, bidx, dict(meta, rows=0))
    serve_ids = sorted(
        r[0]
        for b in batches
        for r in serve(b, bidx, append=True).accepted.select(id_col).collect()
    )
    assert serve_ids == sink_ids and len(sink_ids) < end  # some rejected

    def index_rows(root):
        return spark.read.schema(ix._kind_schema(meta)).parquet(ix.live_root(spark, root))

    a, b = index_rows(sidx), index_rows(bidx)
    assert a.count() == b.count() > 0
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
    assert ix.live_index(spark, bidx)[1]["rows"] == meta["rows"]


def test_band_serve_append_job_count_is_pinned(spark, corpus, tmp_path):
    """One ``serve_incremental_dedup(append=True)`` increment runs a
    fixed set of Spark jobs — the touched-pfx probe, the partitioned
    append and the counter's count over the persisted band rows, six
    under AQE (the same six before the serves and sinks shared one
    path).  The policy stays lazy (no job until the caller's action),
    and already-persisted rows are not checkpointed again."""
    d = str(tmp_path / "jidx")
    ix.create_band_index(corpus.where("doc_id < 40"), d, n_buckets=8)
    inc = corpus.where("doc_id >= 40")
    sc = spark.sparkContext
    sc.setJobGroup("band_serve_append", "one increment")
    try:
        res = ix.serve_incremental_dedup(inc, d, append=True)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup("band_serve_append"))
    finally:
        sc.setJobGroup(None, None)
    assert n_jobs == 6
    assert res.accepted.count() > 0


def test_append_in_touched_buckets_keeps_the_accepted_set(spark, corpus, tmp_path):
    """An ``append=True`` serve returns a lazy accepted frame, and its
    append lands rows in the very buckets the serve's pruned read
    scans.  Counting that frame after the append must still give the
    set decided before it: the same on a second count, and the same as
    an ``append=False`` serve of the increment against an identical
    index copy."""
    import shutil

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    ix.create_band_index(corpus.where("doc_id < 40"), a, n_buckets=8)
    shutil.copytree(a, b)
    inc = corpus.where("doc_id >= 40")
    live = ix.live_root(spark, a)

    def bucket_files() -> dict[str, int]:
        return {p: len(os.listdir(f"{live}/{p}")) for p in os.listdir(live) if p.startswith("pfx=")}

    before = bucket_files()
    appended = ix.serve_incremental_dedup(inc, a, append=True).accepted
    after = bucket_files()
    assert any(after[p] > n for p, n in before.items())  # landed in a touched bucket
    n1 = appended.count()
    n2 = appended.count()
    ids1 = sorted(r.doc_id for r in appended.collect())
    kept = ix.serve_incremental_dedup(inc, b, append=False).accepted
    n3 = kept.count()
    ids3 = sorted(r.doc_id for r in kept.collect())
    assert n1 == n2 == n3 == len(ids1)
    assert ids1 == ids3
    assert 0 < n1 < 20  # the increment has both duplicates and new docs
