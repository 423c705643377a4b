"""Session-owned caches (``session_cache``): every cached entry dies
with its session, and the similarity artifacts follow a rewrite of the
embeddings table the way the relation cache does."""

from __future__ import annotations

import gc
import shutil
import weakref

import pytest
from pyspark import StorageLevel

from meta_morph_etl_databricks_spark.operators.quantize import quantize_int8
from meta_morph_etl_databricks_spark.operators.semantic import _cached_frame
from meta_morph_etl_databricks_spark.plans import ml_queries as ml
from meta_morph_etl_databricks_spark.session_cache import _ATTR
from meta_morph_etl_databricks_spark.sources.scans import read_parquet_table


def _fill_relations(s, sf_dir):
    read_parquet_table(s, sf_dir, "region")


def _fill_frames(s, sf_dir):
    _cached_frame(s, [(0, 0, 1), (1, 0, 2)], "cid int, _pos int, _y long")


def _fill_pq_codebooks(s, sf_dir):
    codes = quantize_int8(ml._embeddings(s, sf_dir)).select("vec_id", "q_vec")
    assert ml._pq_codebooks_cached(s, sf_dir, codes) is not None


def _fill_ivf_centroids(s, sf_dir):
    assert ml._ivf_centroids_cached(s, sf_dir, ml._embeddings(s, sf_dir))


def _fill_ivf_indexes(s, sf_dir):
    ml.q_similarity_ivf_topk(s, sf_dir)  # inverted lists + PQ index


@pytest.mark.parametrize(
    "cache, fill",
    [
        ("relations", _fill_relations),
        ("frames", _fill_frames),
        ("pq_codebooks", _fill_pq_codebooks),
        ("ivf_centroids", _fill_ivf_centroids),
        ("ivf_pq_index", _fill_ivf_indexes),
    ],
    ids=["relations", "frames", "pq_codebooks", "ivf_centroids", "ivf_indexes"],
)
def test_cache_entries_die_with_their_session(spark, sf_dir, cache, fill):
    """A dropped session is collected even though it filled a cache: a
    cache keyed by session identity in a module dict kept it alive
    through its cached frames (and a later session could reuse a dead
    session's id).  PySpark itself pins two sessions: the newest one
    (``RDD.toDF`` is re-bound per construction) and the last caller of
    ``createDataFrame`` (``SparkSession._activeSession``) — one more
    ``newSession()`` and a ``createDataFrame`` on the fixture session
    release both."""
    s2 = spark.newSession()
    fill(s2, sf_dir)
    assert s2.__dict__[_ATTR][cache]  # the entry is held by s2's registry
    ref = weakref.ref(s2)
    del s2
    spark.newSession()
    spark.createDataFrame([], "x int")
    gc.collect()
    assert ref() is None


def _private_embeddings(sf_dir, tmp_path) -> str:
    """A copy of the embeddings table that no other session has cached:
    the cached similarity frames of one table are shared by every
    session that holds them, so a release is checked on a table only
    the test's own sessions use."""
    d = tmp_path / "sf"
    d.mkdir()
    shutil.copy(f"{sf_dir}/embeddings.parquet", d / "embeddings.parquet")
    return str(d)


def _cached(jdf) -> bool:
    level = jdf.storageLevel()
    return level.useMemory() or level.useDisk()


def _collect(spark, ref) -> None:
    """Collect the session behind ``ref`` once its last name is gone."""
    spark.newSession()
    spark.createDataFrame([], "x int")
    gc.collect()
    assert ref() is None


def test_persisted_similarity_frames_unpersist_with_their_session(spark, sf_dir, tmp_path):
    """The inverted lists and PQ index a session persisted are
    unpersisted once that session is collected: the registry frees the
    Python frames with the session, but the JVM cache manager is shared
    by every session and would keep their blocks for the life of the
    application.  Checked per JVM handle, not by counting
    ``getPersistentRDDs()``, which the ContextCleaner makes noisy; the
    release runs on a worker thread, so it is polled for."""
    import time

    sf_dir = _private_embeddings(sf_dir, tmp_path)
    s2 = spark.newSession()
    ml.q_similarity_ivf_topk(s2, sf_dir)
    caches = s2.__dict__[_ATTR]
    handles = [df._jdf for c in ("ivf_lists", "ivf_pq_index") for df in caches[c].values()]
    assert len(handles) == 2

    def cached(jdf):
        level = jdf.storageLevel()
        return level.useMemory() or level.useDisk()

    assert all(cached(h) for h in handles)
    ref = weakref.ref(s2)
    del s2, caches
    spark.newSession()
    spark.createDataFrame([], "x int")
    gc.collect()
    assert ref() is None
    deadline = time.time() + 30
    while any(cached(h) for h in handles) and time.time() < deadline:
        time.sleep(0.2)
    assert not any(cached(h) for h in handles)


def test_releasing_a_session_keeps_a_live_siblings_similarity_frames(
    spark, sf_dir, tmp_path
):
    """Two sessions that ran the IVF query share one cached copy of the
    inverted lists and PQ index, because the JVM cache manager matches
    cached data by plan.  Collecting one session must leave the other's
    frames cached; collecting the last one releases them."""
    import threading
    import time

    sf_dir = _private_embeddings(sf_dir, tmp_path)
    a, b = spark.newSession(), spark.newSession()
    ml.q_similarity_ivf_topk(a, sf_dir)
    ml.q_similarity_ivf_topk(b, sf_dir)
    caches = a.__dict__[_ATTR]
    handles = [df._jdf for c in ("ivf_lists", "ivf_pq_index") for df in caches[c].values()]
    assert len(handles) == 2 and all(_cached(h) for h in handles)

    before = set(threading.enumerate())
    ref = weakref.ref(b)
    del b
    _collect(spark, ref)
    for thread in set(threading.enumerate()) - before:  # the release threads
        thread.join(timeout=30)
    assert all(_cached(h) for h in handles)  # a's frames survive b's release

    ref = weakref.ref(a)
    del a, caches
    _collect(spark, ref)
    deadline = time.time() + 30
    while any(_cached(h) for h in handles) and time.time() < deadline:
        time.sleep(0.2)
    assert not any(_cached(h) for h in handles)


def test_concurrent_releases_unpersist_the_shared_copy_once():
    """Releases of one entry race on its live count from more threads
    than cores through a shortened switch interval: the shared cached
    copy is unpersisted exactly once, by the last release."""
    import sys
    import threading

    class Handle:
        calls = 0

        def unpersist(self, blocking):
            self.calls += 1

    handles = [Handle() for _ in range(64)]
    live = {("c", "k"): len(handles)}
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=ml._release, args=(h, live, ("c", "k"))) for h in handles
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
        assert not any(th.is_alive() for th in threads)
    finally:
        sys.setswitchinterval(old)
    assert live == {}
    assert sum(h.calls for h in handles) == 1


def test_similarity_caches_follow_a_rewritten_embeddings_table(spark, sf_dir, tmp_path):
    """Rewriting ``embeddings.parquet`` must invalidate the cached IVF
    centroids, PQ codebook, inverted lists and PQ index like it
    invalidates the cached relation: a re-run in the same session names
    only vec_ids that still exist and equals a cold session's answer.
    The superseded lists and index are unpersisted: the JVM cache
    manager is shared by every session, so a stale pair left cached
    would hold its blocks for the life of the application."""
    d = tmp_path / "sf"
    d.mkdir()
    shutil.copy(f"{sf_dir}/embeddings.parquet", d / "embeddings.parquet")
    ml.q_similarity_ivf_topk(spark, str(d)).collect()  # warm every cache
    table = d / "embeddings.parquet"

    def ivf_frames():
        caches = spark.__dict__[_ATTR]
        return [
            df
            for cache in ("ivf_lists", "ivf_pq_index")
            for key, df in caches[cache].items()
            if key[0] == str(table)
        ]

    superseded = ivf_frames()
    assert len(superseded) == 2

    spark.read.parquet(str(table)).where("vec_id < 5 OR vec_id % 2 = 0").coalesce(
        1
    ).write.parquet(str(d / "rewrite"))
    table.unlink()
    (d / "rewrite").rename(table)
    live_ids = {r.vec_id for r in spark.read.parquet(str(table)).select("vec_id").collect()}

    rows = ml.q_similarity_ivf_topk(spark, str(d)).collect()
    assert {r.variant for r in rows} == {"ivf", "ivfpq", "rerank"}
    stale = [(r.variant, r.vec_id) for r in rows if r.vec_id not in live_ids]
    assert stale == []
    assert [df.storageLevel for df in superseded] == [StorageLevel.NONE] * 2
    live = ivf_frames()
    assert len(live) == 2 and all(df.storageLevel != StorageLevel.NONE for df in live)
    cold = ml.q_similarity_ivf_topk(spark.newSession(), str(d)).collect()
    assert sorted(rows) == sorted(cold)


class _Owner:
    """Stands in for a SparkSession: the registry only needs ``__dict__``."""


def test_session_cached_lru_bound_and_unkeyed_builds():
    from meta_morph_etl_databricks_spark.session_cache import session_cached

    owner, builds = _Owner(), []

    def get(key):
        return session_cached(owner, "c", key, lambda: builds.append(key) or [key], 2)

    first = get("a")
    assert get("a") is first and builds == ["a"]  # hit: no rebuild
    get("b")
    get("a")  # a is now the most recently used
    get("c")  # evicts b, the least recently used
    assert builds == ["a", "b", "c"]
    get("a")
    get("b")
    assert builds == ["a", "b", "c", "b"]
    get(None)
    get(None)
    assert builds[-2:] == [None, None]  # an unkeyed value is never cached
    assert session_cached(_Owner(), "c", "a", lambda: "other") == "other"  # per owner


def test_session_cached_concurrent_callers_share_one_value():
    """More threads than cores hammer the registry through a shortened
    switch interval: every caller of one key gets the value stored
    first (slow builds force concurrent misses), an LRU bound holds, and
    nothing raises."""
    import sys
    import threading
    import time

    from meta_morph_etl_databricks_spark.session_cache import session_cached

    owner, errors = _Owner(), []
    seen = {k: set() for k in range(5)}

    def slow_build():
        time.sleep(0.001)
        return object()

    def work(t):
        try:
            for i in range(200):
                seen[i % 5].add(id(session_cached(owner, "shared", i % 5, slow_build)))
                session_cached(owner, "lru", (t + i) % 6, object, 4)
                assert len(owner.__dict__["_graft_session_cache"]["lru"]) <= 4
        except Exception as e:  # a thread's exception is otherwise lost
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(t,)) for t in range(16)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
        assert not any(th.is_alive() for th in threads)
    finally:
        sys.setswitchinterval(old)
    assert errors == []
    assert all(len(ids) == 1 for ids in seen.values())
