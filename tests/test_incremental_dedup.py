"""Incremental dedup (operators/incremental.py): the daily-increment
production shape must be indistinguishable from having run one big
batch — for any split of the corpus into monotone-id increments."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from meta_morph_etl_databricks_spark.operators.dedup import minhash_lsh_candidates
from meta_morph_etl_databricks_spark.operators.incremental import (
    incremental_dedup,
    minhash_band_index,
)

K, B, T = 16, 4, 0.8


def _qcos(a_code, b_code, a_norm, b_norm):
    """Relational int8 cosine — the reference the engine's Arrow pair
    scorer (incremental._qcos_reject_ids) must reproduce bit-for-bit:
    exact long dot via aggregate(zip_with), NULL unless both norms are
    positive, then ``d / (a_norm * b_norm)`` in IEEE double."""
    from meta_morph_etl_databricks_spark.operators.quantize import qdot

    d = qdot(a_code, b_code).cast("double")
    return F.when((a_norm > 0) & (b_norm > 0), d / (a_norm * b_norm))


def one_shot_accepted(docs):
    """The reference policy, directly: estimate-verified pairs over the
    whole corpus, drop the higher id of every pair."""
    pairs = minhash_lsh_candidates(docs, num_hashes=K, bands=B, with_estimate=True)
    rejected = pairs.where(F.col("est_jaccard") >= T).select(
        F.col("id_b").alias("doc_id")
    )
    return docs.join(rejected.distinct(), "doc_id", "left_anti")


@pytest.fixture(scope="module")
def corpus(spark):
    base = "the quick brown fox jumps over the lazy dog and then some more words " * 4
    rows = []
    for i in range(60):
        if i % 5 == 0:
            rows.append((i, base))                      # exact-dup clique
        elif i % 5 == 1:
            rows.append((i, base + f"tail{i}"))          # near-dup of the clique
        else:
            rows.append((i, " ".join(f"u{i}w{j}" for j in range(30))))  # unique
    return spark.createDataFrame(rows, "doc_id long, text string")


def empty_index(spark):
    return spark.createDataFrame(
        [], "doc_id long, band_idx int, band_key long, sig array<bigint>"
    )


@pytest.mark.parametrize("cuts", [[60], [30, 60], [7, 20, 41, 60]])
def test_incremental_dedup_matches_one_shot(spark, corpus, cuts):
    """Any monotone-id split — one batch, halves, ragged quarters —
    accepts exactly the one-shot set."""
    want = sorted(r.doc_id for r in one_shot_accepted(corpus).collect())

    index = empty_index(spark)
    accepted: list[int] = []
    lo = 0
    for hi in cuts:
        inc = corpus.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        rows = minhash_band_index(inc, num_hashes=K, bands=B)
        res = incremental_dedup(inc, index, rows, num_hashes=K, bands=B, est_threshold=T)
        accepted.extend(r.doc_id for r in res.accepted.collect())
        index = index.union(res.index_rows.select(*index.columns))
        lo = hi
    assert sorted(accepted) == want


def test_rejected_docs_still_disqualify_their_future_copies(spark):
    """The chain case that indexing only survivors gets wrong: b is a
    near-dup of a (rejected), c arrives later and matches b but not a —
    under one big batch the pair (b, c) still drops c, so the increment
    path must too (the index carries ALL seen docs)."""
    blk = lambda tag, n: " ".join(  # noqa: E731
        f"{tag}{i}" for i in range(n)
    )
    # deterministic under the fixed hash family: the realized estimates
    # are est(a,b)=0.9375, est(b,c)=0.9375, est(a,c)=0.875 — at
    # threshold 0.9 that is exactly a~b, b~c, a≁c
    chain_t = 0.9
    core = blk("core", 160)
    a = (1, core + " " + blk("atail", 14))
    b = (2, core)
    c = (3, core + " " + blk("ctail", 14))
    docs = spark.createDataFrame([a, b, c], "doc_id long, text string")

    # sanity: the one-shot policy keeps ONLY a (b drops via (a,b), c via (b,c))
    pairs = minhash_lsh_candidates(docs, num_hashes=K, bands=B, with_estimate=True)
    matched = {
        (r.id_a, r.id_b) for r in pairs.where(F.col("est_jaccard") >= chain_t).collect()
    }
    assert matched == {(1, 2), (2, 3)}  # the chain, with (1, 3) below threshold

    index = empty_index(spark)
    inc1 = docs.where("doc_id <= 2")
    r1 = incremental_dedup(
        inc1,
        index,
        minhash_band_index(inc1, num_hashes=K, bands=B),
        num_hashes=K,
        bands=B,
        est_threshold=chain_t,
    )
    assert sorted(r.doc_id for r in r1.accepted.collect()) == [1]
    index = index.union(r1.index_rows.select(*index.columns))

    inc2 = docs.where("doc_id = 3")
    r2 = incremental_dedup(
        inc2,
        index,
        minhash_band_index(inc2, num_hashes=K, bands=B),
        num_hashes=K,
        bands=B,
        est_threshold=chain_t,
    )
    assert [r.doc_id for r in r2.accepted.collect()] == []  # c rejected by b


def test_index_width_mismatch_raises(spark, corpus):
    idx = minhash_band_index(corpus.limit(5), num_hashes=8, bands=4)
    with pytest.raises(ValueError, match="8-hash"):
        incremental_dedup(corpus, idx, minhash_band_index(corpus), num_hashes=16, bands=4)


def test_band_params_divisibility_guard(spark, corpus):
    with pytest.raises(ValueError, match="divide"):
        minhash_band_index(corpus, num_hashes=16, bands=5)


def test_empty_increment_and_sub_shingle_docs(spark, corpus):
    """Empty increments are no-ops; docs too short to shingle are
    accepted (no signature → never a candidate, same contract as
    minhash_signatures) and contribute no index rows."""
    index = minhash_band_index(corpus, num_hashes=K, bands=B)
    empty = corpus.where("doc_id < 0")
    res = incremental_dedup(
        empty, index, minhash_band_index(empty, num_hashes=K, bands=B), num_hashes=K, bands=B
    )
    assert res.accepted.count() == 0 and res.index_rows.count() == 0

    short = spark.createDataFrame([(1000, "just two")], "doc_id long, text string")
    res2 = incremental_dedup(
        short, index, minhash_band_index(short, num_hashes=K, bands=B), num_hashes=K, bands=B
    )
    assert [r.doc_id for r in res2.accepted.collect()] == [1000]
    assert res2.index_rows.count() == 0


def test_incremental_exact_dedup_matches_one_shot(spark):
    """Exact half of the incremental story: any monotone-id split keeps
    exactly the min-id representative per normalized-text class —
    including NULL texts (xxhash64(NULL) is the non-NULL seed hash, so
    NULL docs form ONE class across increments) and whitespace/case
    variants of the same class."""
    from meta_morph_etl_databricks_spark.operators.dedup import exact_dedup
    from meta_morph_etl_databricks_spark.operators.incremental import (
        incremental_exact_dedup,
    )

    rows = [
        (0, "Hello  World"),
        (1, "hello world"),        # same class as 0
        (2, None),
        (3, "unique one"),
        (4, "\thello   WORLD\n"),  # same class as 0
        (5, None),                 # same class as 2
        (6, "unique two"),
        (7, ""),
        (8, "   "),                # same class as 7 (both normalize to "")
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    want = sorted(r.doc_id for r in exact_dedup(docs).collect())
    assert want == [0, 2, 3, 6, 7]  # sanity on the one-shot classes

    for cuts in ([9], [4, 9], [2, 5, 9]):
        index = spark.createDataFrame([], "doc_id long, fp long")
        got: list[int] = []
        lo = 0
        for hi in cuts:
            inc = docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            res = incremental_exact_dedup(inc, index)
            got.extend(r.doc_id for r in res.accepted.collect())
            index = index.union(res.index_rows.select(*index.columns))
            lo = hi
        assert sorted(got) == want, f"split {cuts} diverged"


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_slow = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

# a small template pool forces near-dup/exact-dup collisions; the tail
# tag makes some docs near-dups (high estimate) and others unique
_TEMPLATES = [
    "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3,
    "one two three four five six seven eight nine ten " * 3,
]


@_slow
@given(
    choices=st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 3)), min_size=1, max_size=12
    ),
    cut_mask=st.integers(0, 2**11 - 1),
)
def test_incremental_parity_property(spark, choices, cut_mask):
    """For ANY corpus drawn from dup-heavy templates and ANY split into
    monotone-id increments (cut positions from a random bitmask), the
    incremental path accepts exactly the one-shot set."""
    rows = []
    for i, (t, v) in enumerate(choices):
        text = _TEMPLATES[t] + ("" if v == 0 else f" tail{v}")
        rows.append((i, text))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    want = sorted(r.doc_id for r in one_shot_accepted(docs).collect())

    cuts = [i + 1 for i in range(len(rows) - 1) if cut_mask & (1 << i)] + [len(rows)]
    index = empty_index(spark)
    got: list[int] = []
    lo = 0
    for hi in cuts:
        inc = docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        rows = minhash_band_index(inc, num_hashes=K, bands=B)
        res = incremental_dedup(inc, index, rows, num_hashes=K, bands=B, est_threshold=T)
        got.extend(r.doc_id for r in res.accepted.collect())
        index = index.union(res.index_rows.select(*index.columns))
        lo = hi
    assert sorted(got) == want


def test_stream_incremental_dedup_two_triggers(spark, tmp_path):
    """The streaming form, run as a REAL two-trigger file stream (the
    realized estimates under the fixed hash family: est(1,2)=est(1,4)=
    0.875 >= 0.85, so both near-dups reject): batch 1
    seeds the index (dups inside the batch collapse), batch 2's
    near-dups of batch-1 docs are rejected against the PERSISTED index,
    its redelivered batch-1 id is dropped by the seen-filter, and the
    final accepted set equals the batch incremental path over the same
    two increments."""
    from meta_morph_etl_databricks_spark.streaming.dedup import (
        stream_incremental_dedup,
    )

    src = tmp_path / "src"
    src.mkdir()
    index_path = str(tmp_path / "index")
    accepted_path = str(tmp_path / "accepted")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    base = "the quick brown fox jumps over the lazy dog again and again " * 4
    b1 = [(1, base), (2, base + " tail2"), (3, "first unique " + " ".join(f"w{j}" for j in range(25)))]
    b2 = [
        (4, base + " tail4"),  # near-dup of indexed doc 1 → rejected
        (5, "second unique " + " ".join(f"v{j}" for j in range(25))),
        (1, base),             # redelivery of a seen id → dropped, not duplicated
    ]
    spark.createDataFrame(b1, schema).write.parquet(str(src / "b1"))

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
        q = stream_incremental_dedup(
            stream, index_path, accepted_path, ckpt, est_threshold=0.85
        )
        q.awaitTermination(120)

    run_once()
    got1 = sorted(r.doc_id for r in spark.read.parquet(accepted_path).collect())
    assert got1 == [1, 3]  # 2 is a near-dup of 1 within the batch

    spark.createDataFrame(b2, schema).write.parquet(str(src / "b2"))
    run_once()
    got2 = sorted(r.doc_id for r in spark.read.parquet(accepted_path).collect())
    assert got2 == [1, 3, 5]  # 4 rejected vs the index, redelivered 1 dropped

    # index grew by band rows for every SEEN doc of both batches (4
    # docs with signatures per batch incl. rejected; redelivered 1 not
    # re-indexed): 5 distinct doc_ids
    from meta_morph_etl_databricks_spark.operators import index_store as ixm

    idx_ids = sorted(
        r.doc_id
        for r in spark.read.parquet(ixm.live_root(spark, index_path))
        .select("doc_id").distinct().collect()
    )
    assert idx_ids == [1, 2, 3, 4, 5]


def test_stream_crash_replay_accepted_at_least_once(spark, tmp_path):
    """The documented crash contract, realized: a crash AFTER the
    accepted append but BEFORE the index append replays the whole batch
    against an unchanged index — the recomputed accepted set is
    identical, so accepted_path holds FULL-ROW duplicates that
    dropDuplicates([id]) resolves, and the replayed batch's index/seen
    writes land normally (a later near-dup of its docs is rejected)."""
    from meta_morph_etl_databricks_spark.streaming.dedup import (
        stream_incremental_dedup,
    )

    src = tmp_path / "src"
    src.mkdir()
    index_path = str(tmp_path / "index")
    accepted_path = str(tmp_path / "accepted")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"
    base = "the quick brown fox jumps over the lazy dog again and again " * 4
    uniq5 = "second unique " + " ".join(f"v{j}" for j in range(25))

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
        q = stream_incremental_dedup(
            stream, index_path, accepted_path, ckpt, est_threshold=0.85
        )
        q.awaitTermination(120)

    b1 = [(1, base), (3, "first unique " + " ".join(f"w{j}" for j in range(25)))]
    spark.createDataFrame(b1, schema).write.parquet(str(src / "b1"))
    run_once()

    # simulate the crash window: batch 2's accepted rows were written,
    # then the process died before the index/seen appends and before
    # the checkpoint commit — so the file lands in accepted_path but
    # the stream will replay the batch in full
    b2 = [(4, base + " tail4"), (5, uniq5)]
    spark.createDataFrame([(5, uniq5)], schema).write.mode("append").parquet(accepted_path)
    spark.createDataFrame(b2, schema).write.parquet(str(src / "b2"))
    run_once()

    raw = [r.doc_id for r in spark.read.parquet(accepted_path).collect()]
    assert sorted(raw) == [1, 3, 5, 5]  # full-row duplicate of 5, nothing else
    dedup = spark.read.parquet(accepted_path).dropDuplicates(["doc_id"])
    assert sorted(r.doc_id for r in dedup.collect()) == [1, 3, 5]

    # the replayed batch's index append landed: a near-dup of doc 5
    # (scaled copy semantics don't apply to text — reuse its text) is
    # rejected by the index in batch 3
    spark.createDataFrame([(7, uniq5 + " x")], schema).write.parquet(str(src / "b3"))
    run_once()
    final = spark.read.parquet(accepted_path).dropDuplicates(["doc_id"])
    assert sorted(r.doc_id for r in final.collect()) == [1, 3, 5]
    from meta_morph_etl_databricks_spark.operators import index_store as ixm

    idx_ids = sorted(
        r.doc_id
        for r in spark.read.parquet(ixm.live_root(spark, index_path))
        .select("doc_id").distinct().collect()
    )
    assert idx_ids == [1, 3, 4, 5, 7]


def test_replay_self_match_never_reaccepts(spark, tmp_path):
    """The property the post-index-append crash window relies on: once
    an increment's band rows are in the index, re-serving the SAME
    increment accepts nothing (every shingled doc self-matches at
    est = 1.0) except sub-shingle docs, which have no band rows and
    re-accept by documented contract."""
    from meta_morph_etl_databricks_spark.operators import index_store as ix

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta " * 5),
            (2, "one two three four five six seven eight nine ten " * 5),
            (3, "tiny"),  # sub-shingle: no band rows ever
        ],
        "doc_id long, text string",
    )
    d = str(tmp_path / "idx")
    ix.create_band_index(docs.where("doc_id < 0"), d, n_buckets=8)
    first = ix.serve_incremental_dedup(docs, d, append=True)
    assert sorted(r.doc_id for r in first.accepted.collect()) == [1, 2, 3]
    replay = ix.serve_incremental_dedup(docs, d, append=False)
    assert sorted(r.doc_id for r in replay.accepted.collect()) == [3]


def test_stream_incremental_embed_two_triggers(spark, tmp_path):
    """Embedding sibling of the two-trigger stream test: batch 1 seeds
    the index (a scaled copy — identical direction, identical int8
    codes, qcos exactly 1.0 — collapses within the batch), batch 2's
    scaled copy of an indexed vector is rejected against the PERSISTED
    index, its redelivered batch-1 id is dropped by the seen sidecar,
    and its corrupt (NULL) vector is accepted with a NULL bucket."""
    import random

    from meta_morph_etl_databricks_spark.streaming.dedup import (
        stream_incremental_embed_near_dup,
    )

    rng = random.Random(11)
    dims = 16
    base = [rng.uniform(-1, 1) for _ in range(dims)]
    uniq3 = [rng.uniform(-1, 1) for _ in range(dims)]
    uniq5 = [rng.uniform(-1, 1) for _ in range(dims)]

    src = tmp_path / "esrc"
    src.mkdir()
    index_path = str(tmp_path / "eindex")
    accepted_path = str(tmp_path / "eaccepted")
    ckpt = str(tmp_path / "eckpt")
    schema = "vec_id long, embedding array<double>"

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
        q = stream_incremental_embed_near_dup(
            stream,
            index_path,
            accepted_path,
            ckpt,
            threshold=0.995,
            dims=dims,
            n_planes=6,
            center=None,  # uncentered: scaled copies share buckets by sign
        )
        q.awaitTermination(120)

    b1 = [(1, base), (2, [x * 1.5 for x in base]), (3, uniq3)]
    spark.createDataFrame(b1, schema).write.parquet(str(src / "b1"))
    run_once()
    got1 = sorted(r.vec_id for r in spark.read.parquet(accepted_path).collect())
    assert got1 == [1, 3]  # 2 is a scaled copy of 1 within the batch

    b2 = [
        (4, [x * 0.5 for x in base]),  # scaled copy of indexed 1 → rejected
        (5, uniq5),
        (6, None),                     # corrupt → accepted, NULL bucket
        (1, base),                     # redelivered id → dropped by seen
    ]
    spark.createDataFrame(b2, schema).write.parquet(str(src / "b2"))
    run_once()
    got2 = sorted(r.vec_id for r in spark.read.parquet(accepted_path).collect())
    assert got2 == [1, 3, 5, 6]

    from pyspark.sql import functions as F

    from meta_morph_etl_databricks_spark.operators import index_store as ixm

    idx = spark.read.parquet(ixm.live_root(spark, index_path))
    idx_ids = sorted(r.vec_id for r in idx.select("vec_id").distinct().collect())
    assert idx_ids == [1, 2, 3, 4, 5, 6]  # ALL seen rows incl. rejected + corrupt
    # the corrupt row sits under the NULL pfx partition — invisible to
    # every pruned serve read
    assert [r.vec_id for r in idx.where(F.col("pfx").isNull()).collect()] == [6]
    # sidecar meta pinned the build params
    from meta_morph_etl_databricks_spark.operators.index_store import read_index_meta

    meta = read_index_meta(spark, index_path)
    assert meta["dims"] == dims and meta["n_planes"] == 6 and meta["center"] is None


def test_incremental_embed_near_dup_matches_one_shot(spark):
    """Vector-space sibling: any monotone-id split of an embedding
    corpus accepts the one-shot set (same bucket join + int8 cosine,
    drop the higher id of every pair).  Corrupt vectors (NULL / NaN /
    empty) are accepted and never reject anything — NULL scores."""
    from meta_morph_etl_databricks_spark.operators.incremental import (
        embedding_bucket_index,
        incremental_embed_near_dup,
    )

    import math
    import random

    rng = random.Random(7)
    dims = 16
    base = [rng.uniform(-1, 1) for _ in range(dims)]
    rows = []
    for i in range(40):
        if i == 14:
            v = None                                          # corrupt
        elif i == 19:
            v = [float("nan")] * dims                         # corrupt
        elif i % 4 == 0:
            v = list(base)                                   # exact dup family
        elif i % 4 == 1:
            v = [x + rng.uniform(-0.01, 0.01) for x in base]  # near dup
        else:
            v = [rng.uniform(-1, 1) for _ in range(dims)]     # unique-ish
        rows.append((i, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # one-shot reference with the same scorer: bucket join over the
    # whole corpus, drop the higher id of every >= t pair
    full = embedding_bucket_index(emb, dims=dims, n_planes=6)
    a, b = full.alias("a"), full.alias("b")
    pairs = a.join(
        b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") < F.col("b.vec_id"))
    ).where(
        _qcos(F.col("a.q_vec"), F.col("b.q_vec"), F.col("a.q_norm"), F.col("b.q_norm"))
        >= 0.995
    )
    rejected = {r.vec_id for r in pairs.select(F.col("b.vec_id")).distinct().collect()}
    want = sorted(i for i, _ in rows if i not in rejected)
    assert 0 in want and 14 in want and 19 in want  # min-id kept; corrupt accepted
    assert rejected  # the dup families must actually collide

    for cuts in ([40], [20, 40], [9, 23, 40]):
        index = spark.createDataFrame(
            [], "vec_id long, bucket long, q_vec array<tinyint>, q_norm double"
        )
        got: list[int] = []
        lo = 0
        for hi in cuts:
            inc = emb.where((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
            rows = embedding_bucket_index(inc, dims=dims, n_planes=6)
            res = incremental_embed_near_dup(
                inc, index, rows, threshold=0.995, dims=dims, n_planes=6
            )
            got.extend(r.vec_id for r in res.accepted.collect())
            index = index.union(res.index_rows.select(*index.columns))
            lo = hi
        assert sorted(got) == want, f"split {cuts} diverged"


def test_est_threshold_exact_boundary(spark):
    """Boundary audit (the round-6 method): realize the MinHash
    estimate EXACTLY at the threshold and pin the one-sided ``est >= t``
    semantics.  Index rows are crafted from a real doc's band rows with
    exactly 3 (then 4) signature components perturbed — all inside band
    0, so bands 1–3 still key-match — giving est = 13/16 = 0.8125
    (then 12/16 = 0.75) with no rounding anywhere: at t == est the doc
    is REJECTED (>= passes at exact equality), at the very next double
    it is accepted."""
    import math

    doc = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3)],
        "doc_id long, text string",
    )
    band_rows = minhash_band_index(doc, num_hashes=K, bands=B).collect()
    assert len(band_rows) == B

    def crafted_index(n_perturbed: int):
        rows = []
        for r in band_rows:
            sig = list(r.sig)
            for i in range(n_perturbed):  # all in band 0 (h0..h3)
                sig[i] += 1
            rows.append((0, r.band_idx, r.band_key, sig))
        return spark.createDataFrame(
            rows, "doc_id long, band_idx int, band_key long, sig array<bigint>"
        )

    for n_pert, est in [(3, 13 / 16), (4, 12 / 16)]:
        idx = crafted_index(n_pert)
        rows = minhash_band_index(doc, num_hashes=K, bands=B)
        at_t = incremental_dedup(doc, idx, rows, num_hashes=K, bands=B, est_threshold=est)
        assert at_t.accepted.count() == 0, f"est == t must reject (est={est})"
        above = incremental_dedup(
            doc, idx, rows, num_hashes=K, bands=B, est_threshold=math.nextafter(est, 1.0)
        )
        assert above.accepted.count() == 1, f"est < t must accept (est={est})"


def test_est_vs_exact_jaccard_disagreement_band(spark):
    """Precision contract of estimate-based thresholding: decisions can
    flip vs exact Jaccard only in a NARROW band around the threshold.
    A ladder of pairs with arithmetically-controlled true Jaccard
    (shared-prefix construction: J = s/(s+2k) exactly, distinct
    shingles) is scored by both the exact verify and the 16-hash
    estimate.  Under the fixed hash family the flips are a fixed fact:
    every decision flip at t=0.8 has |J − t| <= 0.105 (~1σ of the
    estimator: sqrt(J(1−J)/16) ≈ 0.1), and pairs farther than 0.12
    from the threshold NEVER flip.  This quantifies what the
    incremental path's 1/16-granularity verification trades away vs
    the one-shot exact-Jaccard pipeline (est-dedup is a coarser
    POLICY, not an approximation of the exact one — its parity
    contract is with the est one-shot, q_corpus_curation arm
    'incremental')."""
    rows = []
    ladder = []  # (id_a, id_b, true_jaccard)
    k = 3
    for p, s in enumerate([6, 10, 14, 18, 20, 22, 24, 26, 28, 30, 34, 40, 50, 60, 80, 120]):
        shared = [f"p{p}s{i}" for i in range(s + 2)]
        rows.append((2 * p, " ".join(shared + [f"p{p}xa{i}" for i in range(k)])))
        rows.append((2 * p + 1, " ".join(shared + [f"p{p}xb{i}" for i in range(k)])))
        ladder.append((2 * p, 2 * p + 1, s / (s + 2 * k)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    cands = minhash_lsh_candidates(docs, num_hashes=K, bands=B, with_estimate=True)
    est = {(r.id_a, r.id_b): r.est_jaccard for r in cands.collect()}
    from meta_morph_etl_databricks_spark.operators.dedup import ngram_jaccard_pairs

    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=-1.0, candidates=cands).collect()
    }
    t = 0.8
    flips = []
    for a, b, j_true in ladder:
        j = exact.get((a, b), 0.0)
        assert j == pytest.approx(j_true, abs=5e-5)  # construction arithmetic holds
        e = est.get((a, b))  # missing candidate = no band match = below t
        dec_exact = j_true >= t
        dec_est = e is not None and e >= t
        if dec_exact != dec_est:
            flips.append((j_true, e))
            assert abs(j_true - t) <= 0.105, f"flip too far from t: J={j_true} est={e}"
        elif abs(j_true - t) >= 0.12:
            pass  # far pairs must agree — reaching here means they did
    assert flips, "ladder must realize at least one flip or the band is untested"


def test_int8_cosine_exact_boundary(spark):
    """Boundary audit for the embedding path's quantized-cosine cut
    (incremental_embed_near_dup thresholds ``qcos >= t``): vectors
    chosen so the int8 codes are exact ([127,0,0,...] and [127,0,95,...]
    — 0.75·127 = 95.25 rounds to 95 deterministically) give
    qcos = 16129 / (sqrt(25154)·127) computed in pure IEEE double ops
    that Python mirrors bit-for-bit.  At threshold == qcos the pair is
    rejected (>= at exact equality); at the very next double it is
    accepted.  Both vectors provably share LSH bucket 3 under the fixed
    plane family (asserted), so the bucket join cannot mask the
    threshold."""
    import math

    from meta_morph_etl_databricks_spark.operators.incremental import (
        embedding_bucket_index,
        incremental_embed_near_dup,
    )

    dims, n_planes = 16, 4
    a = [1.0] + [0.0] * (dims - 1)
    b = [1.0, 0.0, 0.75] + [0.0] * (dims - 3)
    corpus = spark.createDataFrame([(0, a)], "vec_id long, embedding array<double>")
    inc = spark.createDataFrame([(1, b)], "vec_id long, embedding array<double>")

    idx = embedding_bucket_index(corpus, dims=dims, n_planes=n_planes)
    inc_rows = embedding_bucket_index(inc, dims=dims, n_planes=n_planes)
    buckets = {r.vec_id: r.bucket for r in idx.union(inc_rows).collect()}
    assert buckets[0] == buckets[1] == 3  # same bucket — join reaches the cut

    # the engine's _qcos order: d / (n.q_norm * x.q_norm), n = increment
    t = 16129.0 / (math.sqrt(25154.0) * 127.0)
    at_t = incremental_embed_near_dup(
        inc, idx, inc_rows, threshold=t, dims=dims, n_planes=n_planes
    )
    assert at_t.accepted.count() == 0, "qcos == t must reject"
    above = incremental_embed_near_dup(
        inc, idx, inc_rows, threshold=math.nextafter(t, 1.0), dims=dims, n_planes=n_planes
    )
    assert above.accepted.count() == 1, "qcos < t must accept"


def test_corrupt_vectors_get_null_bucket(spark):
    """Corrupt vectors must carry a NULL bucket (never equi-join, never
    hot-bucket): without the guard every NULL/NaN vector signs all bits
    0 and lands in bucket 0 with the honest all-negative-dot vectors."""
    from meta_morph_etl_databricks_spark.operators.incremental import (
        embedding_bucket_index,
    )

    emb = spark.createDataFrame(
        [
            (1, [0.5] * 8),
            (2, None),
            (3, [float("nan")] * 8),
            (4, []),
            (5, [-0.5] * 8),  # honest vector that signs every bit 0
        ],
        "vec_id long, embedding array<double>",
    )
    rows = {r.vec_id: r.bucket for r in embedding_bucket_index(emb, dims=8, n_planes=4).collect()}
    assert rows[2] is None and rows[3] is None and rows[4] is None
    assert rows[1] is not None and rows[5] is not None


def test_stream_restart_band_param_mismatch_raises(spark, tmp_path):
    """Restarting stream_incremental_dedup with drifted build params
    raises against the sidecar BEFORE touching data (round-7 advice:
    id_col was never validated, so a renamed id column read the index
    through a schema naming a nonexistent column — all-NULL ids, seen
    filter disabled, index bloating silently every batch)."""
    from meta_morph_etl_databricks_spark.streaming.dedup import (
        stream_incremental_dedup,
    )

    src = tmp_path / "msrc"
    src.mkdir()
    index_path = str(tmp_path / "midx")
    schema = "doc_id long, text string"
    spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta " * 5)], schema
    ).write.parquet(str(src / "b1"))

    def run_once(n, **kw):
        stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
        q = stream_incremental_dedup(
            stream,
            index_path,
            str(tmp_path / "macc"),
            str(tmp_path / f"mckpt{n}"),
            **kw,
        )
        q.awaitTermination(120)

    run_once(0)  # bootstrap: sidecar written with defaults

    for n, bad in enumerate(
        [{"num_hashes": 32}, {"bands": 8}, {"id_col": "other_id"}], start=1
    ):
        with pytest.raises(Exception, match="different parameters"):
            run_once(n, **bad)

    # unchanged params restart cleanly (fresh checkpoint reprocesses b1;
    # the seen filter drops it, so this is also a no-op replay check)
    run_once(9)


def test_stream_restart_embed_param_mismatch_raises(spark, tmp_path):
    """Embedding sibling: the round-7 MEDIUM advice — the old code
    passed the sidecar's own dims/n_planes/center into the builders, so
    validation compared the sidecar against itself and could never
    fire; a 128-dim restart against a 64-dim index NULL-bucketed every
    vector and silently accepted every duplicate.  Now the CALLER's
    dims/n_planes/id_col (and an explicitly pinned center) are checked
    and raise; center='auto' defers to the stored center."""
    import random

    from meta_morph_etl_databricks_spark.streaming.dedup import (
        stream_incremental_embed_near_dup,
    )

    rng = random.Random(3)
    dims = 16
    src = tmp_path / "emsrc"
    src.mkdir()
    index_path = str(tmp_path / "emidx")
    schema = "vec_id long, embedding array<double>"
    spark.createDataFrame(
        [(1, [rng.uniform(-1, 1) for _ in range(dims)])], schema
    ).write.parquet(str(src / "b1"))

    def run_once(n, **kw):
        stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
        q = stream_incremental_embed_near_dup(
            stream,
            index_path,
            str(tmp_path / "emacc"),
            str(tmp_path / f"emckpt{n}"),
            dims=kw.pop("dims", dims),
            n_planes=kw.pop("n_planes", 6),
            **kw,
        )
        q.awaitTermination(120)

    run_once(0, center="auto")  # bootstrap: center computed + persisted

    for n, bad in enumerate(
        [
            {"dims": 2 * dims},  # the exact failure the advice named
            {"n_planes": 8},
            {"id_col": "other_id"},
            {"center": [0.0] * dims},  # explicitly pinned ≠ stored auto center
        ],
        start=1,
    ):
        with pytest.raises(Exception, match="different parameters"):
            run_once(n, **bad)

    # default center='auto' restart defers to the stored center: clean
    run_once(9, center="auto")


def test_stream_embed_crash_replay_accepted_at_least_once(spark, tmp_path):
    """Embedding sibling of the band-stream crash-replay test: a crash
    AFTER the accepted append but BEFORE the index/seen appends replays
    the batch against an unchanged index — identical recomputed
    accepted set, so accepted_path holds FULL-ROW duplicates that
    dropDuplicates([id]) resolves; the replayed index append then lands
    and a later scaled copy of the replayed vector is rejected."""
    import random

    from meta_morph_etl_databricks_spark.streaming.dedup import (
        stream_incremental_embed_near_dup,
    )

    rng = random.Random(29)
    dims = 16
    base = [rng.uniform(-1, 1) for _ in range(dims)]
    uniq5 = [rng.uniform(-1, 1) for _ in range(dims)]

    src = tmp_path / "ecsrc"
    src.mkdir()
    index_path = str(tmp_path / "ecidx")
    accepted_path = str(tmp_path / "ecacc")
    ckpt = str(tmp_path / "ecckpt")
    schema = "vec_id long, embedding array<double>"

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
        q = stream_incremental_embed_near_dup(
            stream, index_path, accepted_path, ckpt,
            threshold=0.995, dims=dims, n_planes=6, center=None,
        )
        q.awaitTermination(120)

    spark.createDataFrame([(1, base)], schema).write.parquet(str(src / "b1"))
    run_once()

    # crash window: batch 2's accepted rows landed, then the process
    # died before the index/seen appends and the checkpoint commit
    spark.createDataFrame([(5, uniq5)], schema).write.mode("append").parquet(accepted_path)
    spark.createDataFrame(
        [(4, [x * 0.5 for x in base]), (5, uniq5)], schema
    ).write.parquet(str(src / "b2"))
    run_once()

    raw = sorted(r.vec_id for r in spark.read.parquet(accepted_path).collect())
    assert raw == [1, 5, 5]  # full-row duplicate of 5; 4 rejected vs index
    dedup = spark.read.parquet(accepted_path).dropDuplicates(["vec_id"])
    assert sorted(r.vec_id for r in dedup.collect()) == [1, 5]

    # the replayed batch's index append landed: a scaled copy of 5 is
    # rejected in batch 3
    spark.createDataFrame([(7, [x * 2.0 for x in uniq5])], schema).write.parquet(str(src / "b3"))
    run_once()
    final = spark.read.parquet(accepted_path).dropDuplicates(["vec_id"])
    assert sorted(r.vec_id for r in final.collect()) == [1, 5]
    from meta_morph_etl_databricks_spark.operators import index_store as ixm

    idx_ids = sorted(
        r.vec_id
        for r in spark.read.parquet(ixm.live_root(spark, index_path))
        .select("vec_id").distinct().collect()
    )
    assert idx_ids == [1, 4, 5, 7]


def test_stream_compact_every_and_mid_swap_recovery(spark, tmp_path):
    """compact_every=1 compacts the index after every committed batch
    (one file per bucket, dedup semantics unchanged), and a compaction
    crash BETWEEN triggers — live dir renamed away, mid-swap — is
    recovered by the next batch instead of silently bootstrapping a
    fresh empty index over the old state."""
    import glob
    import os

    from meta_morph_etl_databricks_spark.operators import index_store as ix
    from meta_morph_etl_databricks_spark.streaming.dedup import (
        stream_incremental_dedup,
    )

    src = tmp_path / "cmsrc"
    src.mkdir()
    index_path = str(tmp_path / "cmidx")
    accepted_path = str(tmp_path / "cmacc")
    ckpt = str(tmp_path / "cmckpt")
    schema = "doc_id long, text string"
    base = "the quick brown fox jumps over the lazy dog again and again " * 4

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
        q = stream_incremental_dedup(
            stream, index_path, accepted_path, ckpt,
            est_threshold=0.85, compact_every=1,
        )
        q.awaitTermination(120)

    spark.createDataFrame([(1, base)], schema).write.parquet(str(src / "b1"))
    run_once()
    live = ix.live_root(spark, index_path)
    for bucket_dir in glob.glob(f"{live}/pfx=*"):
        assert len(glob.glob(f"{bucket_dir}/*.parquet")) == 1  # compacted

    # simulate a compaction crash between triggers: the pointer lost in
    # the delete+rename fallback window PLUS a half-built next gen —
    # the worst pointer-layout state a crash can leave
    os.remove(f"{index_path}/{ix.CURRENT_FILE}")
    os.makedirs(f"{index_path}/gen-0000099")
    open(f"{index_path}/gen-0000099/partial.parquet", "w").write("x")
    # even BEFORE recovery the index is never 'missing': reads fall back
    # to the highest complete generation passively
    assert ix.read_index_meta(spark, index_path) is not None

    # next trigger: near-dup of doc 1 must still be REJECTED — the
    # per-batch recovery re-pointed and reaped the debris instead of
    # bootstrapping a fresh empty index over the old state
    spark.createDataFrame(
        [(4, base + " tail4"), (5, "unique " + " ".join(f"v{j}" for j in range(25)))],
        schema,
    ).write.parquet(str(src / "b2"))
    run_once()
    got = sorted(r.doc_id for r in spark.read.parquet(accepted_path).collect())
    assert got == [1, 5]  # 4 rejected against the RECOVERED index
    idx_ids = sorted(
        r.doc_id
        for r in spark.read.parquet(ix.live_root(spark, index_path))
        .select("doc_id").distinct().collect()
    )
    assert idx_ids == [1, 4, 5]
    assert not os.path.exists(f"{index_path}/gen-0000099")
    assert os.path.exists(f"{index_path}/{ix.CURRENT_FILE}")


def test_arrow_pair_scorer_matches_jvm_filter(spark, monkeypatch):
    """r14 _qcos_reject_ids: the mapInArrow pair scorer must produce
    the same accepted set as the relational aggregate(zip_with) filter
    it replaced (:func:`_qcos`, swapped in as the reference), on both
    the semantic and the embedding serve paths — including
    near-threshold pairs."""
    import random

    from meta_morph_etl_databricks_spark.operators import incremental
    from meta_morph_etl_databricks_spark.operators.incremental import (
        embedding_bucket_index,
        incremental_embed_near_dup,
        incremental_semantic_near_dup,
        semantic_cell_index,
    )
    from meta_morph_etl_databricks_spark.operators.semantic import (
        kmeans_int8_tree,
        semantic_cell_assign,
        shifted_codes,
    )

    def jvm_reject_ids(pairs, id_col, a_vec, b_vec, a_norm, b_norm, threshold,
                       out_name, out_type):
        return pairs.where(_qcos(a_vec, b_vec, a_norm, b_norm) >= threshold).select(
            id_col.alias(out_name)
        )

    rng = random.Random(7)
    base = [[rng.uniform(-3, 3) for _ in range(8)] for _ in range(12)]
    rows = [
        (
            i,
            # even ids: noisy copies of a planted pattern (near-dups of
            # the bootstrap); odd ids: fresh random vectors (novel)
            [x + rng.uniform(-0.05, 0.05) for x in base[i % 12]]
            if i % 2 == 0
            else [rng.uniform(-3, 3) for _ in range(8)],
        )
        for i in range(120)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    boot = emb.where("vec_id < 40")
    inc = emb.where("vec_id >= 40")

    def run_both(fn):
        got = sorted(r.vec_id for r in fn().accepted.collect())
        with monkeypatch.context() as m:
            m.setattr(incremental, "_qcos_reject_ids", jvm_reject_ids)
            want = sorted(r.vec_id for r in fn().accepted.collect())
        assert got == want and got
        return got

    asg, _, tree = kmeans_int8_tree(shifted_codes(boot, 8), k=4, iters=1)
    idx = semantic_cell_index(boot, asg.withColumnRenamed("cluster", "cell"))
    rows = semantic_cell_index(inc, semantic_cell_assign(shifted_codes(inc, 8), tree))
    run_both(
        lambda: incremental_semantic_near_dup(inc, idx, rows, tree, threshold=0.93, dims=8)
    )

    bidx = embedding_bucket_index(boot, dims=8, n_planes=3)
    brows = embedding_bucket_index(inc, dims=8, n_planes=3)
    run_both(
        lambda: incremental_embed_near_dup(
            inc, bidx, brows, threshold=0.93, dims=8, n_planes=3
        )
    )


def test_arrow_pair_scorer_degenerate_batches(spark):
    """The scorer's slow path must replay zip_with semantics exactly:
    ragged widths, interior NULLs, NULL codes and non-positive norms
    all make the JVM dot NULL (pair kept/accepted); only clean equal-
    width pairs can reject."""
    from meta_morph_etl_databricks_spark.operators.incremental import _qcos_reject_ids

    pairs = spark.createDataFrame(
        [
            (1, [127, 0], [127, 0], 127.0, 127.0),      # identical → reject
            (2, [127, 0], [127, 0, 5], 127.0, 127.1),   # ragged → NULL dot → keep
            (3, [127, None], [127, 0], 127.0, 127.0),   # interior NULL → keep
            (4, None, [127, 0], 127.0, 127.0),          # NULL code → keep
            (5, [127, 0], [127, 0], 0.0, 127.0),        # zero norm → keep
            (6, [100, 0], [-100, 0], 100.0, 100.0),     # cos −1 → keep
        ],
        "vec_id long, av array<int>, bv array<int>, an double, bn double",
    )
    got = sorted(
        r.vec_id
        for r in _qcos_reject_ids(
            pairs,
            F.col("vec_id"),
            F.col("av").cast("array<tinyint>"),
            F.col("bv").cast("array<tinyint>"),
            F.col("an"),
            F.col("bn"),
            0.9,
            "vec_id",
            "bigint",
        ).collect()
    )
    assert got == [1]


def test_embed_sink_does_not_bootstrap_from_interior_null_batch(spark, tmp_path):
    """Batch 0 whose only right-length vectors carry NULL ELEMENTS must
    pass through un-indexed (like the all-NaN batch) — array_max skips
    NULLs so the r12 guard accepted them, pinning n_buckets and a
    partial center from rows that all land in the NULL bucket."""
    import random

    from meta_morph_etl_databricks_spark.operators import index_store as ix
    from meta_morph_etl_databricks_spark.streaming.dedup import (
        stream_incremental_embed_near_dup,
    )

    schema = "vec_id long, embedding array<double>"

    esrc = tmp_path / "esrc"
    esrc.mkdir()
    eidx = str(tmp_path / "eidx")
    eacc, eckpt = str(tmp_path / "eacc"), str(tmp_path / "eckpt")

    # batch 0: every vector is dims-long but has a NULL element
    sneaky = [(i, [1.0] * i + [None] + [1.0] * (7 - i)) for i in range(4)]
    spark.createDataFrame(sneaky, schema).write.parquet(str(esrc / "b0"))
    stream = spark.readStream.schema(schema).parquet(str(esrc) + "/*")
    stream_incremental_embed_near_dup(
        stream, eidx, eacc, eckpt, dims=8
    ).awaitTermination(120)
    assert ix.live_index(spark, eidx)[1] is None  # no bootstrap
    assert spark.read.parquet(eacc).count() == 4  # passed through

    # first honest batch bootstraps, centered on real data only
    rng = random.Random(13)
    spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(10, 16)],
        schema,
    ).write.parquet(str(esrc / "b1"))
    stream = spark.readStream.schema(schema).parquet(str(esrc) + "/*")
    stream_incremental_embed_near_dup(
        stream, eidx, eacc, eckpt, dims=8
    ).awaitTermination(180)
    meta = ix.live_index(spark, eidx)[1]
    assert meta is not None
    assert any(abs(c) > 0 for c in meta["center"])
    assert spark.read.parquet(eacc).count() == 10
