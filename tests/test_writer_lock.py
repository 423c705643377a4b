"""Writer-lock enforcement of the single-writer index slot (round-10
verdict task 3): every generation-writing op (create/init, compact,
retract, recluster, retrain, tombstone) runs inside
``index_store.writer_lock`` — an atomically-created ``__writer_lock``
marker SIBLING to the index root — so two concurrent maintenance
writers can no longer both pass ``recover_compaction`` and race
``_new_generation`` into interleaved half-generations.

The bar (verdict wording): a concurrent compact+retract where one
serializes behind (with ``lock_retries``) or fails loudly (without),
with no interleaved-generation corruption; and crash-while-holding-lock
recovery (stale marker → next writer raises naming the escape hatch →
``break_writer_lock`` → the writer proceeds and recovery reaps debris).

Also pinned here: reentrancy keys on the CANONICAL root (`/x/idx` and
`file:/x/idx` re-enter instead of self-deadlocking); a second PROCESS
holding the slot makes the parent fail fast or serialize behind with
``lock_retries``; and a hard-killed stream's restart reclaims its OWN
stranded lock through the breadcrumb owner token, never a foreign one.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time

import pytest

from meta_morph_etl_databricks_spark.operators import index_store as ix

DSCHEMA = "doc_id long, text string"


def _mk_band_index(spark, path, n_docs: int = 40):
    rows = [(i, " ".join(f"d{i}w{j}" for j in range(30))) for i in range(n_docs)]
    docs = spark.createDataFrame(rows, DSCHEMA)
    ix.create_band_index(docs, path, n_buckets=8)
    return docs


def _lock_file(path: str) -> str:
    return f"{path.rstrip('/')}{ix.WRITER_LOCK_SUFFIX}"


def test_second_writer_fails_fast_while_lock_held(spark, tmp_path):
    """Without retries, an op that finds the slot taken by a FOREIGN
    holder raises IOError naming the lock and the escape hatch — it
    must NOT proceed into a second concurrent generation build.  (The
    holder is simulated by the marker file: the lock is reentrant
    per-thread since the r11 review, so a same-thread ``with
    writer_lock`` would legitimately re-enter.)"""
    from meta_morph_etl_databricks_spark.sources.sinks import _hadoop_fs

    path = str(tmp_path / "bidx")
    _mk_band_index(spark, path)
    fs, path_cls, _ = _hadoop_fs(spark, path)
    assert fs.createNewFile(path_cls(_lock_file(path)))  # foreign holder
    try:
        gens_before = ix._gen_dir_names(spark, path)
        with pytest.raises(IOError, match="break_writer_lock"):
            ix.compact_index(spark, path)
        with pytest.raises(IOError, match="single-writer"):
            ix.retract_ids(spark, path, [1, 2])
        with pytest.raises(IOError):
            ix.tombstone_ids(spark, path, [3])
        # the losers wrote nothing: no new generation, no debris
        assert ix._gen_dir_names(spark, path) == gens_before
    finally:
        fs.delete(path_cls(_lock_file(path)), False)
    # release → the same op now succeeds
    ix.compact_index(spark, path)


def test_ivf_append_takes_the_writer_lock(spark, tmp_path, monkeypatch):
    """IVF appends enter a live generation through the same locked
    append as the dedup kinds: against a FOREIGN holder they fail
    naming the escape hatch and append nothing, and once the slot is
    free the ``_rows`` bump equals the vectors appended, on both
    codecs.  The append polls the slot like every serve append; the
    poll's sleep is stubbed so the refusal comes at once."""
    import random
    from types import SimpleNamespace

    from meta_morph_etl_databricks_spark.sources.sinks import _hadoop_fs

    rng = random.Random(3)
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    inc = emb.where("vec_id >= 30")
    path = str(tmp_path / "ivf")
    ix.create_ivf_index(emb.where("vec_id < 30"), path, nlist=4)
    fs, path_cls, _ = _hadoop_fs(spark, path)
    assert fs.createNewFile(path_cls(_lock_file(path)))  # foreign holder
    with monkeypatch.context() as m:
        m.setattr(ix, "time", SimpleNamespace(sleep=lambda s: None, time=time.time))
        try:
            with pytest.raises(IOError, match="break_writer_lock"):
                ix.append_ivf_vectors(inc, path)
        finally:
            fs.delete(path_cls(_lock_file(path)), False)
    df, meta = ix.open_ivf_index(spark, path)
    assert df.count() == 30 and meta["rows"] == 30

    pq_path = str(tmp_path / "ivfpq")
    ix.create_ivf_index(emb.where("vec_id < 30"), pq_path, nlist=4, codec="pq", ksub=4)
    for p in (path, pq_path):
        ix.append_ivf_vectors(inc, p)
        df, meta = ix.open_ivf_index(spark, p)
        assert meta["rows"] == 40 == df.count()


def test_writer_lock_is_reentrant_per_thread(spark, tmp_path):
    """A batch body that holds the slot can call locked ops in-line
    (compact, tombstone) without deadlocking — re-entry is per thread,
    so a second THREAD still serializes (the concurrent test above)."""
    path = str(tmp_path / "bidx")
    _mk_band_index(spark, path)
    with ix.writer_lock(spark, path, "outer_batch"):
        ix.tombstone_ids(spark, path, [1])  # re-enters, no deadlock
        ix.compact_index(spark, path)
        from meta_morph_etl_databricks_spark.sources.sinks import _hadoop_fs

        fs, path_cls, _ = _hadoop_fs(spark, path)
        assert fs.exists(path_cls(_lock_file(path)))  # outer still holds
    assert not fs.exists(path_cls(_lock_file(path)))  # released once, at exit
    df, _ = ix.open_band_index(spark, path)
    assert df.where("doc_id = 1").isEmpty()  # the reap ran inside


def test_concurrent_compact_and_retract_serialize(spark, tmp_path):
    """Two maintenance writers launched together, both with retries:
    the loser polls behind the winner's tenure and then runs on the
    winner's OUTPUT generation — both complete, the final index is the
    sequential composition (rows retracted AND compacted), and the
    generation chain has no interleaved half-states (every surviving
    generation is complete, pointer on the highest)."""
    path = str(tmp_path / "bidx")
    docs = _mk_band_index(spark, path)
    # appends create replay-style duplicate rows for compact to drop
    ix.append_index_rows(
        ix.minhash_band_index(docs.limit(5), "text", "doc_id", 16, 4), path,
        ix.read_index_meta(spark, path),
    )

    errs: list[Exception] = []

    def run(fn, *args):
        try:
            fn(spark, path, *args, lock_retries=120, lock_retry_interval_sec=0.25)
        except Exception as e:  # pragma: no cover - failure detail for assert
            errs.append(e)

    t1 = threading.Thread(target=run, args=(ix.compact_index,))
    t2 = threading.Thread(target=run, args=(ix.retract_ids, [0, 1]))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs

    # no corruption: pointer resolves, every remaining gen is complete,
    # retracted ids gone, compaction's dup-drop applied
    live, meta = ix.live_index(spark, path)
    assert meta is not None and meta["kind"] == ix.BAND_KIND
    names = ix._gen_dir_names(spark, path)
    complete = ix._complete_gens(spark, path)
    assert set(names) == set(complete)
    df, _ = ix.open_band_index(spark, path)
    assert df.where(df.doc_id.isin([0, 1])).isEmpty()
    # both ops released the slot
    from meta_morph_etl_databricks_spark.sources.sinks import _hadoop_fs

    fs, path_cls, _ = _hadoop_fs(spark, path)
    assert not fs.exists(path_cls(_lock_file(path)))


def test_crash_while_holding_lock_recovery(spark, tmp_path):
    """A hard-killed writer leaves the marker AND a half-built
    generation.  The next writer fails loudly; ``break_writer_lock``
    (the operator action the error names) frees the slot; the writer
    then proceeds and its leading recover_compaction reaps the debris."""
    path = str(tmp_path / "bidx")
    _mk_band_index(spark, path)
    live0 = ix.live_root(spark, path)

    # simulate the hard kill: stale marker + a meta-less half generation
    from meta_morph_etl_databricks_spark.sources.sinks import _hadoop_fs

    fs, path_cls, _ = _hadoop_fs(spark, path)
    assert fs.createNewFile(path_cls(_lock_file(path)))
    half = f"{path}/{ix._new_generation(spark, path)}"
    fs.mkdirs(path_cls(half))

    with pytest.raises(IOError, match="break_writer_lock"):
        ix.compact_index(spark, path)
    assert ix.break_writer_lock(spark, path) is True
    assert ix.break_writer_lock(spark, path) is False  # idempotent

    # the next writer's leading recovery reaps the debris (the half
    # gen's NAME may be reused by the new complete generation, so probe
    # recovery directly before compacting)
    ix.recover_compaction(spark, path)
    assert not fs.exists(path_cls(half))
    ix.compact_index(spark, path)
    live1, meta = ix.live_index(spark, path)
    assert meta is not None and live1 != live0
    assert not fs.exists(path_cls(_lock_file(path)))


def test_exception_inside_op_releases_lock(spark, tmp_path):
    """A writer that RAISES (process still alive) must free the slot in
    its finally — only a hard kill leaves a stale marker."""
    path = str(tmp_path / "bidx")
    _mk_band_index(spark, path)
    with pytest.raises(ValueError):
        ix.retract_ids(spark, str(tmp_path / "nothing_here"), [1])
    # a different path's failure aside, fail ON this index too:
    with pytest.raises(ValueError):
        # kind mismatch: semantic recluster on a band index
        ix.recluster_semantic_index(spark, path)
    from meta_morph_etl_databricks_spark.sources.sinks import _hadoop_fs

    fs, path_cls, _ = _hadoop_fs(spark, path)
    assert not fs.exists(path_cls(_lock_file(path)))
    ix.compact_index(spark, path)  # slot usable


def test_index_info_console(spark, tmp_path):
    """index_info (r11): one read-only call reports the slot's whole
    lifecycle state — kind, live generation, counter-overlaid rows,
    tombstone backlog, the kind-appropriate drift dial, and the writer
    lock holder.  Passive: calling it mid-writer-tenure must not
    interfere with the lock."""
    path = str(tmp_path / "bidx")
    info0 = ix.index_info(spark, path)
    assert info0["kind"] is None and info0["generations"] == []
    assert info0["writer_lock"] is None and info0["pending_tombstones"] == 0

    _mk_band_index(spark, path)
    ix.tombstone_ids(spark, path, [1, 2, 3])
    info = ix.index_info(spark, path)
    assert info["kind"] == ix.BAND_KIND
    assert info["live"].endswith(info["generations"][-1])
    assert info["pending_tombstones"] == 3
    assert info["maintenance_due"] is None  # band kind: compact_every owns it
    assert info["writer_lock"] is None

    with ix.writer_lock(spark, path, "test_holder"):
        held = ix.index_info(spark, path)["writer_lock"]
        assert held == "held" or held["op"] == "test_holder"
    assert ix.index_info(spark, path)["writer_lock"] is None

    # dial surfaces for the counting kinds
    import random

    rng = random.Random(3)
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    ipath = str(tmp_path / "ivf")
    ix.create_ivf_index(emb, ipath, nlist=4)
    iinfo = ix.index_info(spark, ipath)
    assert iinfo["kind"] == ix.IVF_KIND and iinfo["rows"] == 60
    assert iinfo["maintenance_due"] is False


def test_stream_compaction_serializes_behind_external_lock(spark, tmp_path):
    """The in-sink maintenance calls pass ``lock_retries=60``: a stream
    whose ``compact_every`` fires while an EXTERNAL maintenance op
    holds the writer lock must WAIT for the slot and then compact —
    not die with the fail-fast IOError, and not skip the compaction."""
    import glob
    import threading
    import time

    from meta_morph_etl_databricks_spark.streaming.dedup import (
        stream_incremental_dedup,
    )

    src = tmp_path / "wlsrc"
    src.mkdir()
    index_path = str(tmp_path / "wlidx")
    schema = "doc_id long, text string"
    spark.createDataFrame(
        [(i, " ".join(f"s{i}w{j}" for j in range(30))) for i in range(6)], schema
    ).write.parquet(str(src / "b1"))

    # hold the slot from "outside" for a few seconds, releasing while
    # the batch's compaction is polling
    release = threading.Event()

    def hold():
        with ix.writer_lock(spark, index_path, "external_maintenance"):
            release.wait(timeout=30)

    holder = threading.Thread(target=hold)
    holder.start()
    time.sleep(0.5)  # the holder owns the slot before the stream starts
    threading.Timer(4.0, release.set).start()

    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    q = stream_incremental_dedup(
        stream, index_path, str(tmp_path / "wlacc"), str(tmp_path / "wlckpt"),
        compact_every=1,
    )
    q.awaitTermination(120)
    holder.join(timeout=30)

    # the compaction ran (one file per bucket) — it waited, then won
    live = ix.live_root(spark, index_path)
    for bucket_dir in glob.glob(f"{live}/pfx=*"):
        assert len(glob.glob(f"{bucket_dir}/*.parquet")) == 1
    assert spark.read.parquet(str(tmp_path / "wlacc")).count() == 6


# --------------------------------------------------- lock key canonical
def test_writer_lock_reentrant_across_path_spellings(spark, tmp_path):
    """`/x/idx` and `file:/x/idx` spell the SAME slot (same marker
    file): the inner acquire must re-enter, not see "exists" forever
    and self-deadlock (r11 verdict nit — the held-set keyed on the raw
    string)."""
    path = str(tmp_path / "bidx")
    _mk_band_index(spark, path, n_docs=30)
    entered = []
    with ix.writer_lock(spark, path, "outer"):
        with ix.writer_lock(spark, f"file:{path}", "inner_uri_spelling"):
            entered.append("uri")
        with ix.writer_lock(spark, path + "/", "inner_trailing_slash"):
            entered.append("slash")
        # a locked op addressed through the other spelling re-enters too
        ix.tombstone_ids(spark, f"file:{path}", [1])
    assert entered == ["uri", "slash"]
    # released exactly once, at the outer exit
    from meta_morph_etl_databricks_spark.sources.sinks import _hadoop_fs

    fs, path_cls, _ = _hadoop_fs(spark, path)
    assert not fs.exists(path_cls(_lock_file(path)))
    # and the tombstone landed
    assert ix.index_info(spark, path)["pending_tombstones"] == 1


# ------------------------------------------------ cross-process contention
_HOLDER_SCRIPT = """
import os, sys, time
lock, hold_sec = sys.argv[1], float(sys.argv[2])
fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)  # atomic create
os.write(fd, b'{"op": "external_process"}')
os.close(fd)
print("HELD", flush=True)
time.sleep(hold_sec)
os.unlink(lock)
"""


def test_multiprocess_writer_lock_contention(spark, tmp_path):
    """The lock's real adversary is a second PROCESS (two jobs pointed
    at one slot).  A subprocess takes the marker with the same
    O_CREAT|O_EXCL primitive ``_try_acquire_lock`` uses on local disk;
    the parent's compact fails fast while it is held, and with
    ``lock_retries`` serializes behind the holder's release."""
    path = str(tmp_path / "bidx")
    _mk_band_index(spark, path, n_docs=30)

    proc = subprocess.Popen(
        [sys.executable, "-c", _HOLDER_SCRIPT, _lock_file(path), "6"],
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        assert proc.stdout.readline().strip() == "HELD"
        # fail-fast: the foreign process holds the slot
        with pytest.raises(IOError, match="break_writer_lock"):
            ix.compact_index(spark, path)
        # serialize-behind: poll past the holder's tenure, then win
        t0 = time.time()
        ix.compact_index(spark, path, lock_retries=120, lock_retry_interval_sec=0.25)
        assert time.time() - t0 > 1.0  # it actually waited for the release
    finally:
        proc.wait(timeout=30)
    live, meta = ix.live_index(spark, path)
    assert meta is not None and meta["kind"] == ix.BAND_KIND
    from meta_morph_etl_databricks_spark.sources.sinks import _hadoop_fs

    fs, path_cls, _ = _hadoop_fs(spark, path)
    assert not fs.exists(path_cls(_lock_file(path)))


# -------------------------------------------------- owner-token reclaim
def test_owner_reclaims_own_stranded_lock_only(spark, tmp_path):
    """A marker whose breadcrumb names the SAME owner token is a dead
    prior incarnation of this job (one-active-query-per-checkpoint) —
    reclaimed without retries.  A foreign owner's marker, a crumbless
    marker (holder mid-acquire), and a torn crumb never reclaim."""
    path = str(tmp_path / "bidx")
    _mk_band_index(spark, path, n_docs=30)
    lock = _lock_file(path)

    def strand(body: str | None):
        with open(lock, "x") as f:
            if body is not None:
                f.write(body)

    # same owner → reclaimed, op proceeds with retries=0
    strand(json.dumps({"op": "stream_batch", "owner": "ckpt-A"}))
    with ix.writer_lock(spark, path, "restart", owner="ckpt-A"):
        pass
    assert not os.path.exists(lock)

    # foreign owner → fail loudly, marker intact
    strand(json.dumps({"op": "stream_batch", "owner": "ckpt-OTHER"}))
    with pytest.raises(IOError, match="break_writer_lock"):
        with ix.writer_lock(spark, path, "restart", owner="ckpt-A"):
            pass
    assert os.path.exists(lock)
    os.unlink(lock)

    # crumbless marker (holder mid-acquire) → never reclaimed
    strand(None)
    with pytest.raises(IOError):
        with ix.writer_lock(spark, path, "restart", owner="ckpt-A"):
            pass
    assert os.path.exists(lock)
    os.unlink(lock)

    # torn crumb → never reclaimed
    strand('{"op": "stream_ba')
    with pytest.raises(IOError):
        with ix.writer_lock(spark, path, "restart", owner="ckpt-A"):
            pass
    assert os.path.exists(lock)
    os.unlink(lock)


def test_reclaim_restores_foreign_replacement(spark, tmp_path, monkeypatch):
    """The capture protocol's TOCTOU defense: if the marker CHANGES
    between the owner peek and the rename (a manual break racing the
    reclaim), the re-verify against the CAPTURED file sees the truth
    and restores the innocent writer's marker instead of deleting it.
    Simulated by faking only the peek read."""
    path = str(tmp_path / "bidx")
    _mk_band_index(spark, path, n_docs=30)
    lock = _lock_file(path)
    with open(lock, "x") as f:
        f.write(json.dumps({"op": "compact_index", "owner": "OTHER"}))

    real = ix._read_small_file
    calls = {"n": 0}

    def fake_peek(spark_, p):
        calls["n"] += 1
        if calls["n"] == 1 and p == lock:  # the peek: claims our owner
            return json.dumps({"op": "stream_batch", "owner": "MINE"})
        return real(spark_, p)  # the captured-file re-verify reads truth

    monkeypatch.setattr(ix, "_read_small_file", fake_peek)
    from meta_morph_etl_databricks_spark.sources.sinks import _hadoop_fs

    fs, path_cls, _ = _hadoop_fs(spark, path)
    got = ix._reclaim_own_lock(spark, fs, path_cls, path_cls(lock), lock, "MINE")
    assert got is False
    assert os.path.exists(lock)  # restored, not deleted
    assert not os.path.exists(lock + ".reclaim")
    assert json.load(open(lock))["owner"] == "OTHER"  # content intact
    os.unlink(lock)


def test_stream_restart_self_heals_stranded_lock(spark, tmp_path):
    """The ADVICE scenario end-to-end: a hard-killed stream (kill -9 /
    OOM) strands ``__writer_lock`` with its own checkpoint as owner; on
    restart the first batch must reclaim it and process — not poll out
    its retries and die — and dedup state is intact (replay via
    recover_compaction is safe)."""
    from meta_morph_etl_databricks_spark.streaming.dedup import (
        stream_incremental_dedup,
    )

    src = tmp_path / "src"
    src.mkdir()
    index_path = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(i, " ".join(f"s{i}w{j}" for j in range(30))) for i in range(6)], DSCHEMA
    ).write.parquet(str(src / "b1"))

    stream = spark.readStream.schema(DSCHEMA).parquet(str(src) + "/*")
    q = stream_incremental_dedup(stream, index_path, str(tmp_path / "acc"), ckpt)
    q.awaitTermination(120)

    # hard kill left the marker with this stream's own owner token
    with open(_lock_file(index_path), "x") as f:
        f.write(json.dumps({"op": "stream_batch", "owner": ckpt, "acquired_unix": 0}))

    # redeliver batch 1 + one new doc; the restart must reclaim and run
    spark.read.parquet(str(src / "b1")).write.parquet(str(src / "b2"))
    spark.createDataFrame(
        [(100, " ".join(f"n100w{j}" for j in range(30)))], DSCHEMA
    ).write.parquet(str(src / "b3"))
    stream = spark.readStream.schema(DSCHEMA).parquet(str(src) + "/*")
    q = stream_incremental_dedup(stream, index_path, str(tmp_path / "acc"), ckpt)
    q.awaitTermination(180)

    assert not os.path.exists(_lock_file(index_path))  # released normally
    acc = spark.read.parquet(str(tmp_path / "acc"))
    # redelivered ids dropped by the seen filter, the new doc accepted
    assert acc.count() == 7 and acc.where("doc_id = 100").count() == 1
