"""Layout growth for the band/embed kinds (r11): the ``rows`` counter
extends to them, ``rebucket_due`` is the O(1) occupancy dial, and
``rebucket_index`` is the layout-only generational rewrite — n_buckets
re-sized to the grown corpus, everything else (band params, center,
serve decisions, seen history) preserved.

Before this, ``n_buckets`` was frozen at bootstrap: a corpus grown 100×
under appends carried 100× the target rows per bucket and every serve's
pruned read degraded linearly — the same frozen-at-bootstrap class the
semantic kind fixed with recluster (r10) and the IVF kind with retrain
(r11), closed here for the remaining two kinds.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from meta_morph_etl_databricks_spark.operators import index_store as ix

DSCHEMA = "doc_id long, text string"
ESCHEMA = "vec_id long, embedding array<double>"


def _docs(spark, ids):
    return spark.createDataFrame(
        [(i, " ".join(f"d{i}w{j}" for j in range(30))) for i in ids], DSCHEMA
    )


def test_band_rows_counter_and_dial(spark, tmp_path):
    """create seeds the counter (auto and explicit n_buckets paths),
    the serve append path bumps it, compaction recounts, and the dial
    reads it all O(1)-side."""
    path = str(tmp_path / "bidx")
    meta = ix.create_band_index(_docs(spark, range(10)), path, n_buckets=4)
    assert meta["rows"] == 10 * meta["bands"]  # explicit path: footer count

    ix.serve_incremental_dedup(_docs(spark, range(100, 110)), path)
    _, m2 = ix.live_index(spark, path)
    assert m2["rows"] == 20 * meta["bands"]  # bumped by the append

    assert ix.rebucket_due(spark, path, target_rows_per_bucket=500) is False
    assert ix.rebucket_due(spark, path, drift_factor=1.0, target_rows_per_bucket=2)

    ix.compact_index(spark, path)
    _, m3 = ix.live_index(spark, path)
    assert m3["rows"] == 20 * meta["bands"]  # recount preserved it

    # auto path seeds the counter from the sizing count
    path2 = str(tmp_path / "bidx2")
    meta2 = ix.create_band_index(_docs(spark, range(10)), path2)
    assert meta2["rows"] == 10 * meta2["bands"]


def test_rebucket_preserves_serves_and_seen(spark, tmp_path):
    """The rewrite changes ONLY layout: after growing a 4-bucket band
    index 10×, rebucket re-sizes n_buckets and the serve decisions,
    seen filtering, and tombstone reaping all hold."""
    path = str(tmp_path / "bidx")
    base = "the quick brown fox jumps over the lazy dog and then some more " * 3
    docs = spark.createDataFrame([(0, base)], DSCHEMA)
    ix.create_band_index(docs, path, n_buckets=4)
    ix.serve_incremental_dedup(_docs(spark, range(10, 200)), path)
    ix.tombstone_ids(spark, path, [11])

    # pre-rebucket decision: a near-dup of doc 0 is rejected
    dup = spark.createDataFrame([(900, base)], DSCHEMA)
    assert ix.serve_incremental_dedup(dup, path, append=False).accepted.isEmpty()

    _, m0 = ix.live_index(spark, path)
    assert ix.rebucket_due(spark, path, drift_factor=1.0, target_rows_per_bucket=10)
    m1 = ix.rebucket_index(spark, path)
    assert m1["n_buckets"] == ix.auto_index_buckets(m0["rows"])
    assert m1["n_buckets"] != m0["n_buckets"]
    assert not ix.rebucket_due(spark, path, drift_factor=1.0, target_rows_per_bucket=30)

    # same decisions through the new layout
    assert ix.serve_incremental_dedup(dup, path, append=False).accepted.isEmpty()
    uniq = _docs(spark, [901])
    assert ix.serve_incremental_dedup(uniq, path, append=False).accepted.count() == 1
    # tombstoned id physically reaped, sidecar dropped
    df, _ = ix.open_band_index(spark, path)
    assert df.where("doc_id = 11").isEmpty()
    live = ix.live_root(spark, path)
    assert ix._tombstone_list(spark, live) == []
    # every data row landed in a valid new-layout bucket
    assert df.where(F.col("pfx") >= m1["n_buckets"]).isEmpty()


def test_rebucket_embed_kind_and_explicit_buckets(spark, tmp_path):
    rng = random.Random(2)
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(50)], ESCHEMA
    )
    path = str(tmp_path / "eidx")
    meta = ix.create_embedding_index(emb, path, dims=8, n_planes=4, n_buckets=4)
    assert meta["rows"] == 50
    before = ix.serve_incremental_embed_near_dup(
        emb.limit(5), path, threshold=0.9, append=False
    ).accepted.count()
    m1 = ix.rebucket_index(spark, path, n_buckets=16)
    assert m1["n_buckets"] == 16 and m1["rows"] == 50
    after = ix.serve_incremental_embed_near_dup(
        emb.limit(5), path, threshold=0.9, append=False
    ).accepted.count()
    assert after == before


def test_stream_rebucket_when_due(spark, tmp_path):
    """In-sink wiring: with a forced-low target the dial fires between
    triggers, buckets grow, and the next batch dedups correctly against
    the re-laid-out index."""
    from meta_morph_etl_databricks_spark.streaming.dedup import (
        stream_incremental_dedup,
    )

    src = tmp_path / "rbsrc"
    src.mkdir()
    path = str(tmp_path / "rbidx")
    acc = str(tmp_path / "rbacc")
    ckpt = str(tmp_path / "rbckpt")
    base = "shared boilerplate text repeated for the near dup check " * 4

    def run_once():
        stream = spark.readStream.schema(DSCHEMA).parquet(str(src) + "/*")
        q = stream_incremental_dedup(
            stream, path, acc, ckpt, n_buckets=4,
            rebucket_when_due=True, rebucket_target_rows=1,
        )
        q.awaitTermination(120)

    spark.createDataFrame(
        [(1, base)] + [(i, " ".join(f"x{i}w{j}" for j in range(30))) for i in range(2, 8)],
        DSCHEMA,
    ).write.parquet(str(src / "b1"))
    run_once()
    _, m1 = ix.live_index(spark, path)
    assert m1["n_buckets"] > 4  # the dial fired after batch 1

    # batch 2: near-dup of doc 1 rejected against the re-bucketed index
    spark.createDataFrame([(20, base + " tail")], DSCHEMA).write.parquet(str(src / "b2"))
    run_once()
    got = sorted(r.doc_id for r in spark.read.parquet(acc).collect())
    assert 20 not in got and 1 in got


def test_rebucket_resizes_at_the_dial_target(spark, tmp_path):
    """ADVICE fix: the rewrite must satisfy the dial that requested it.
    With target_rows_per_bucket=40, an index at 200 rows/bucket is due;
    after rebucketing AT THAT TARGET the dial reads not-due — before the
    fix the rewrite re-sized at the fixed 500-rows/bucket default and
    the dial re-fired a full rewrite on every poll forever."""
    docs = spark.createDataFrame(
        [(i, " ".join(f"d{i}w{j}" for j in range(30))) for i in range(100)], DSCHEMA
    )
    path = str(tmp_path / "bidx")
    # 100 docs x 4 bands = 400 band rows over 2 buckets = 200 rows/bucket
    ix.create_band_index(docs, path, n_buckets=2)
    assert ix.rebucket_due(spark, path, target_rows_per_bucket=40)

    meta = ix.rebucket_index(spark, path, target_rows_per_bucket=40)
    assert meta["n_buckets"] >= 400 // 40  # sized to the caller's target
    assert not ix.rebucket_due(spark, path, target_rows_per_bucket=40)
    # serves unchanged by the layout rewrite
    df, _ = ix.open_band_index(spark, path)
    assert df.select("doc_id").distinct().count() == 100


def test_rebucket_due_converges_when_layout_cannot_grow(spark, tmp_path):
    """An IVF layout capped at nlist must NOT report rebucket-due on
    occupancy alone — the rewrite would re-pick the same n_buckets and
    a rebucket_when_due-style loop would re-run a full rewrite on every
    poll forever (review finding).  The correct signal for that state
    is the retrain dial, which grows nlist AND buckets."""
    import random

    rng = random.Random(13)
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)], ESCHEMA
    )
    path = str(tmp_path / "ivf_cap")
    meta = ix.create_ivf_index(emb, path, nlist=4)
    assert meta["n_buckets"] == 4  # nlist-capped layout
    live = ix.live_root(spark, path)
    with open(f"{live}/{ix.ROWS_FILE}", "w") as f:
        f.write("1000000")  # simulate heavy growth since bootstrap
    # occupancy is massively over, but the rewrite cannot grow buckets
    assert ix.rebucket_due(spark, path, target_rows_per_bucket=500) is False
    assert ix.ivf_retrain_due(spark, path) is True  # the right dial fires


def test_rewrites_keep_null_partition_rows(spark, tmp_path):
    """compact_index and rebucket_index share one body that recomputes
    ``pfx`` from each row.  Rows with a NULL key — corrupt embed
    vectors, IVF vectors parked by an empty codebook — must stay in the
    NULL partition, stay counted in ``rows``, and never be served."""
    rng = random.Random(4)
    good = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)]
    corrupt = [(100, None), (101, [float("nan")] * 8), (102, [0.5] * 5)]
    emb = spark.createDataFrame(good + corrupt, ESCHEMA)
    epath, ipath = str(tmp_path / "eidx"), str(tmp_path / "ivf0")
    ix.create_embedding_index(emb, epath, dims=8, n_planes=4, n_buckets=4)
    ix.create_ivf_index(emb.limit(0), ipath, nlist=4)  # empty codebook
    ix.append_ivf_vectors(emb.where("vec_id < 30"), ipath)  # parked
    cases = [
        (epath, ix.open_embedding_index, {100, 101, 102}, 33),
        (ipath, ix.open_ivf_index, set(range(30)), 30),
    ]
    for rewrite in (ix.compact_index, lambda s, p: ix.rebucket_index(s, p, n_buckets=2)):
        for path, open_index, parked, rows in cases:
            rewrite(spark, path)
            df, meta = open_index(spark, path)
            null_ids = {r.vec_id for r in df.where(F.col("pfx").isNull()).collect()}
            assert null_ids == parked
            assert meta["rows"] == rows == df.count()

    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    assert ix.serve_ivf_topk(queries, ipath, k=3).isEmpty()
    # copies of the corrupt residents match nothing; a copy of a good
    # vector is still rejected against the rewritten index
    inc = spark.createDataFrame(
        [(200 + k, v) for k, (_, v) in enumerate(corrupt)] + [(300, good[0][1])], ESCHEMA
    )
    res = ix.serve_incremental_embed_near_dup(inc, epath, threshold=0.9, append=False)
    assert sorted(r.vec_id for r in res.accepted.collect()) == [200, 201, 202]
