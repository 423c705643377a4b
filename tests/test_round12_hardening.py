"""Round-12 hardening: the r11 verdict's latent-robustness nits and the
r11 ADVICE items, each pinned by a test (the writer-lock ones live
in test_writer_lock.py, the rebucket ones in test_rebucket.py, the
tombstone ones in test_tombstones.py, the streaming-sink bootstrap one
in test_streaming.py, the text ones in test_text_pii.py and the
quantizer ones in test_adversarial_embeddings.py).

- ``pruned_read`` chunks its brace-glob past ``_PRUNED_GLOB_MAX``
  touched buckets, identical rows either side of the threshold;
- the old-Spark "Path does not exist" fallback actually fires (ADVICE:
  it matched the error-class NAME, which pre-class engines never emit).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from meta_morph_etl_databricks_spark.operators import index_store as ix

DSCHEMA = "doc_id long, text string"
ESCHEMA = "vec_id long, embedding array<double>"


# ------------------------------------------------- pruned_read chunking
def test_pruned_read_chunks_past_glob_max(spark, tmp_path, monkeypatch):
    """Past ``_PRUNED_GLOB_MAX`` touched values the read splits into
    several globs and unions — same rows, missing buckets still
    skipped, partition column preserved.  The threshold is lowered so
    the chunked path runs at test scale; production behavior below the
    threshold is the single-glob read every other test exercises."""
    root = str(tmp_path / "pr")
    df = spark.createDataFrame(
        [(i, i % 20) for i in range(200)], "doc_id long, pfx int"
    )
    df.write.partitionBy("pfx").parquet(root)

    schema = "doc_id long, pfx int"
    touched = list(range(18)) + [97, 98, 99]  # 3 nonexistent buckets
    expect = {(r.doc_id, r.pfx) for r in df.where(df.pfx < 18).collect()}

    single = ix.pruned_read(spark, root, schema, touched)
    assert {(r.doc_id, r.pfx) for r in single.collect()} == expect

    monkeypatch.setattr(ix, "_PRUNED_GLOB_MAX", 5)  # force 5 chunks
    chunked = ix.pruned_read(spark, root, schema, touched)
    assert {(r.doc_id, r.pfx) for r in chunked.collect()} == expect

    # an all-missing chunk contributes empty, not an error
    monkeypatch.setattr(ix, "_PRUNED_GLOB_MAX", 2)
    nothing = ix.pruned_read(spark, root, schema, [500, 501, 502, 503, 504])
    assert nothing.count() == 0 and nothing.columns == ["doc_id", "pfx"]


def test_path_missing_error_matcher_old_spark_spellings():
    """The fallback must fire for pre-error-class engines (r11 ADVICE:
    it only matched the class NAME 'PATH_NOT_FOUND', which those
    engines never put in the message)."""

    class OldStyle(Exception):  # no getCondition/getErrorClass at all
        pass

    assert ix._is_path_missing_error(OldStyle("Path does not exist: /x/pfx={1,2}"))
    assert ix._is_path_missing_error(
        OldStyle("java.io.FileNotFoundException: /x/pfx=1")
    )
    assert ix._is_path_missing_error(OldStyle("[PATH_NOT_FOUND] Path not found"))
    assert not ix._is_path_missing_error(OldStyle("Permission denied: /x"))

    class ClassedNotMissing(Exception):
        def getCondition(self):
            return "SCHEMA_MISMATCH"

    # a classed error is judged by its CLASS — even if the message
    # happens to contain a missing-path substring
    assert not ix._is_path_missing_error(
        ClassedNotMissing("schema drift near 'Path does not exist'")
    )

    class ClassedMissing(Exception):
        def getCondition(self):
            return "PATH_NOT_FOUND"

    assert ix._is_path_missing_error(ClassedMissing("[PATH_NOT_FOUND] gone"))


# ------------------------------------------- module-review (r12) fixes
def test_append_index_rows_bumps_sem_counter(spark, tmp_path):
    """The shared public append helper must feed the SEM kind's drift
    dial like the band/embed ones (review: the old per-kind SEM helper
    skipped the bump, freezing semantic_recluster_due at the bootstrap
    count forever)."""
    import random

    from meta_morph_etl_databricks_spark.operators.incremental import (
        semantic_cell_index,
    )
    from meta_morph_etl_databricks_spark.operators.semantic import (
        semantic_cell_assign,
        shifted_codes,
        tree_from_json,
    )

    rng = random.Random(5)

    def emb(lo, n):
        return spark.createDataFrame(
            [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(lo, lo + n)],
            ESCHEMA,
        )

    path = str(tmp_path / "semidx")
    meta = ix.create_semantic_index(emb(0, 40), path, k=4, iters=1, dims=8)
    assert ix.live_index(spark, path)[1]["rows"] == 40
    inc = emb(100, 25)
    cells = semantic_cell_assign(shifted_codes(inc, 8), tree_from_json(meta["tree"]))
    coded = semantic_cell_index(inc, cells)
    ix.append_index_rows(coded, path, meta)
    live, meta2 = ix.live_index(spark, path)
    assert meta2["rows"] == 65  # counter grew with the append
    # the dial reads the grown count — and the resolved= hook matches
    # the self-resolved reading (index_info's no-torn-snapshot path)
    assert ix.semantic_recluster_due(spark, path, drift_factor=0.01) is True
    assert ix.semantic_recluster_due(
        spark, path, drift_factor=0.01, resolved=(live, meta2)
    ) is True


def test_ivf_assignment_preserves_non_bigint_id_type(spark, tmp_path):
    """The numpy assignment kernel (method='auto' flips to it past 64
    lists) must emit the INPUT id type — it hardcoded `long`, so an
    int-id index built with a wide codebook stored int64 parquet under
    an `int` sidecar schema and every later open failed at scan time
    (review finding)."""
    import random

    from meta_morph_etl_databricks_spark.operators.similarity import _assign_numpy

    rng = random.Random(11)
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(6)]) for i in range(300)],
        "vec_id int, embedding array<double>",
    )
    cents = [(c, [rng.uniform(-1, 1) for _ in range(6)]) for c in range(70)]
    out = _assign_numpy(emb, cents, "vec_id", "embedding")
    assert dict(out.dtypes)["vec_id"] == "int"

    # end-to-end: 70 lists > the auto-switch threshold, int ids — the
    # store round-trips (create writes through the numpy kernel, open
    # reads with the sidecar's id_type schema)
    path = str(tmp_path / "ivf_int")
    meta = ix.create_ivf_index(emb, path, nlist=70)
    assert meta["id_type"] == "int" and len(meta["centroids"]) > 64
    df, _ = ix.open_ivf_index(spark, path)
    assert df.count() == 300  # the schema'd read works
    q = emb.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    assert ix.serve_ivf_topk(q, path, k=3).count() == 6


def test_glob_metacharacter_roots_rejected(spark, tmp_path):
    """A glob metacharacter in the index ROOT makes every pruned serve
    silently read an EMPTY index (admitting every duplicate) — create,
    init and pruned_read all refuse loudly instead."""
    docs = spark.createDataFrame(
        [(i, " ".join(f"g{i}w{j}" for j in range(30))) for i in range(5)], DSCHEMA
    )
    for bad in ("bid[2024]x", "bid{a,b}", "bid*", "bid?"):
        with pytest.raises(ValueError, match="glob"):
            ix.create_band_index(docs, str(tmp_path / bad), n_buckets=4)
        with pytest.raises(ValueError, match="glob"):
            ix.init_index(spark, str(tmp_path / bad), {"kind": ix.BAND_KIND})
        with pytest.raises(ValueError, match="glob"):
            ix.pruned_read(spark, str(tmp_path / bad), "doc_id long, pfx int", [1])
    # literal paths unaffected
    ok = str(tmp_path / "plain")
    ix.create_band_index(docs, ok, n_buckets=4)
    assert ix.open_band_index(spark, ok)[0].count() > 0


def test_interior_null_element_vectors_get_null_bucket(spark):
    """A right-length vector with a NULL ELEMENT passed both old guards
    (array_max skips NULLs so q_vec stays non-NULL) and landed in
    bucket 0 — at corpus scale every such row piles into one hot bucket
    and cross-joins its honest residents (review finding).  It must get
    the NULL bucket like every other corrupt shape."""
    from meta_morph_etl_databricks_spark.operators.incremental import (
        embedding_bucket_index,
    )
    from meta_morph_etl_databricks_spark.operators.similarity import (
        lsh_bucketed_pairs,
    )

    emb = spark.createDataFrame(
        [
            (0, [1.0, None, 2.0, 1.0, 1.0, 1.0, 1.0, 1.0]),  # interior NULL
            (1, [1.0] * 8),
            (2, [1.0] * 8),
        ],
        ESCHEMA,
    )
    rows = {r.vec_id: r.bucket for r in embedding_bucket_index(emb, dims=8).collect()}
    assert rows[0] is None and rows[1] is not None and rows[1] == rows[2]
    # the one-shot pair path contains it too — and loses no result pair
    got = lsh_bucketed_pairs(emb, n_planes=4, dims=8, threshold=0.5)
    assert {(r.id_a, r.id_b) for r in got.collect()} == {(1, 2)}


def test_stale_assigner_tree_raises_against_sidecar(spark, tmp_path):
    """A caller holding yesterday's tree while the index was reclustered
    passed the dims check, re-celled the increment against the new cell
    ids, emptied every cell join and silently ACCEPTED every duplicate
    (review finding) — the assigner itself is now validated against the
    sidecar."""
    import random

    from meta_morph_etl_databricks_spark.operators.incremental import (
        incremental_semantic_near_dup,
        semantic_cell_index,
    )
    from meta_morph_etl_databricks_spark.operators.semantic import (
        kmeans_int8_tree,
        semantic_cell_assign,
        shifted_codes,
        tree_from_json,
    )

    rng = random.Random(21)

    def emb(lo, n):
        return spark.createDataFrame(
            [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(lo, lo + n)],
            ESCHEMA,
        )

    path = str(tmp_path / "semidx")
    meta = ix.create_semantic_index(emb(0, 40), path, k=4, iters=1, dims=8)
    index_df, _ = ix.open_semantic_index(spark, path)
    # a DIFFERENT bootstrap's tree — the stale-assigner hazard
    _, _, stale_tree = kmeans_int8_tree(shifted_codes(emb(500, 40), 8), 4, 1)
    inc = emb(100, 10)

    def rows(tree):
        return semantic_cell_index(inc, semantic_cell_assign(shifted_codes(inc, 8), tree))

    with pytest.raises(ValueError, match="assigner tree"):
        incremental_semantic_near_dup(
            inc, index_df, rows(stale_tree), stale_tree, dims=8, index_meta=meta
        )
    # the sidecar's own tree passes (round-trip equality)
    tree = tree_from_json(meta["tree"])
    res = incremental_semantic_near_dup(
        inc, index_df, rows(tree), tree, dims=8, index_meta=meta
    )
    assert res.accepted.count() <= 10


# ------------------------------------- kernel-review (r12, third pass)
def test_semantic_dedup_raises_on_uniform_dims_mismatch(spark):
    """A 32-dim corpus under the default dims=64 previously no-op'd the
    whole dedup (every row excluded by the wrong-length guard, empty
    assignment, everything accepted with NULL clusters, no signal)."""
    import random

    from meta_morph_etl_databricks_spark.operators.semantic import semantic_dedup

    rng = random.Random(17)
    emb32 = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(32)]) for i in range(20)], ESCHEMA
    )
    with pytest.raises(ValueError, match="dims=64"):
        semantic_dedup(emb32, k=2).count()
    # the documented all-corrupt containment is unchanged: NULL/NaN
    # corpora pass through with NULL clusters, no raise
    corrupt = spark.createDataFrame(
        [(0, None), (1, [float("nan")] * 64)], ESCHEMA
    )
    got = semantic_dedup(corrupt, k=2)
    assert got.count() == 2 and all(r.cluster is None for r in got.collect())
