"""Edge-case unit tests for the operator library — the cases the
sf-testdata oracle gate can't hit: empty inputs, sub-shingle documents,
tie-breaks, null keys, zero-norm vectors."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from meta_morph_etl_databricks_spark.operators import dedup as D
from meta_morph_etl_databricks_spark.operators import similarity as S
from meta_morph_etl_databricks_spark.operators import text as T
from meta_morph_etl_databricks_spark.operators.aggregates import argmax_per_group
from meta_morph_etl_databricks_spark.operators.joins import theta_left_join
from meta_morph_etl_databricks_spark.operators.windows import top1_per_group


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------- dedup
def test_exact_dedup_groups_whitespace_and_case(spark):
    docs = _docs(spark, [(1, "Hello  World"), (2, "hello world"), (3, "other")])
    out = {r.doc_id: r.dup_count for r in D.exact_dedup(docs).collect()}
    assert out == {1: 2, 3: 1}  # min-id representative, normalized match


def test_minhash_skips_sub_shingle_docs(spark):
    docs = _docs(spark, [(1, "too short"), (2, "a b c d e f g"), (3, "a b c d e f g")])
    sigs = D.minhash_signatures(docs)
    assert {r.doc_id for r in sigs.collect()} == {2, 3}
    pairs = D.minhash_lsh_candidates(docs).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(2, 3)]


def test_minhash_signatures_match_column_form(spark):
    docs = _docs(spark, [(1, "the quick brown fox jumps over the lazy dog")])
    wide = D.minhash_signatures(docs, num_hashes=4).collect()[0]
    col_form = docs.select(D.minhash_signature("text", num_hashes=4).alias("sig")).collect()[0].sig
    assert [wide.h0, wide.h1, wide.h2, wide.h3] == col_form


def test_simhash_codes_match_column_form_and_empty_doc(spark):
    docs = _docs(spark, [(1, "alpha beta gamma delta"), (2, "   ")])
    dist = {r.doc_id: r.simhash for r in D.simhash_codes(docs, bits=8).collect()}
    col = {
        r.doc_id: r.sh
        for r in docs.select("doc_id", D.simhash64("text", bits=8).alias("sh")).collect()
    }
    assert dist == col
    assert dist[2] == 0  # token-less doc → empty-aggregate code


def test_ngram_jaccard_identical_docs(spark):
    docs = _docs(spark, [(1, "x y z w"), (2, "x y z w"), (3, "p q r s")])
    out = D.ngram_jaccard_pairs(docs, threshold=0.5, allow_all_pairs=True)
    assert [(r.id_a, r.id_b, r.jaccard) for r in out.collect()] == [(1, 2, 1.0)]


def test_ngram_jaccard_refuses_silent_all_pairs(spark):
    docs = _docs(spark, [(1, "x y z w")])
    with pytest.raises(ValueError, match="all-pairs"):
        D.ngram_jaccard_pairs(docs, threshold=0.5)


def test_minhash_lsh_rejects_nondivisible_bands(spark):
    docs = _docs(spark, [(1, "x y z w")])
    with pytest.raises(ValueError, match="divide"):
        D.minhash_lsh_candidates(docs, num_hashes=16, bands=3)


def test_lsh_hot_band_aqe_skew_split(spark):
    """The docstring claim in minhash_lsh_candidates — "skewed buckets
    (boilerplate) are handled by AQE skew-join splitting" — measured,
    not asserted: a corpus where 20% of docs share one boilerplate text
    puts ~4k banded rows on one (band_idx, band_key) per band; with the
    skew thresholds scaled to test-sized partitions, the executed plan
    must show the banded self-join split (SortMergeJoin(skew=true) with
    'coalesced and skewed' shuffle reads) and the pair output must be
    exactly the hot clique (the split relocates work, never changes the
    answer).  At production defaults the same trigger fires at 256 MB
    partitions — the config scaling is the only test-local part."""
    hot = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.range(5000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 5 == 0, F.lit(hot)).otherwise(
            F.concat_ws(" ", *[F.concat(F.lit(f"w{i}_"), F.col("id")) for i in range(8)])
        ).alias("text"),
    )
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # pin the SMJ path
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        cands = D.minhash_lsh_candidates(docs)
        pairs = cands.collect()  # executes THIS df's adaptive plan
        plan = cands._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)
    # 1000 hot docs → the full clique; unique filler texts share no band
    assert len(pairs) == 1000 * 999 // 2
    hot_ids = set(range(0, 5000, 5))
    assert all(r.id_a in hot_ids and r.id_b in hot_ids for r in pairs)
    assert "SortMergeJoin(skew=true)" in plan, plan
    assert "coalesced and skewed" in plan


def test_minhash_estimate_and_prefilter_identical_verified_set(spark):
    """The verify pre-filter contract: (a) est_jaccard is the agreeing-
    hash fraction — 1.0 for identical docs, bounded in [0,1]; (b) the
    pre-filtered verify at threshold 0.8 / margin 0.35 returns the SAME
    verified pair set as the unfiltered verify on the real sf0.001
    documents corpus (the hash family is deterministic, so this is a
    fixed property of the corpus, not a flaky sample)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cands = D.minhash_lsh_candidates(docs, with_estimate=True)
    rows = cands.collect()
    assert rows, "sf0.001 documents must produce LSH candidates"
    assert all(0.0 <= r.est_jaccard <= 1.0 for r in rows)
    # candidate pair set is unchanged by carrying the estimate
    plain = {(r.id_a, r.id_b) for r in D.minhash_lsh_candidates(docs).collect()}
    assert {(r.id_a, r.id_b) for r in rows} == plain

    base = {
        (r.id_a, r.id_b, r.jaccard)
        for r in D.ngram_jaccard_pairs(docs, threshold=0.8, candidates=cands).collect()
    }
    pre = {
        (r.id_a, r.id_b, r.jaccard)
        for r in D.ngram_jaccard_pairs(
            docs, threshold=0.8, candidates=cands, prefilter_margin=0.35
        ).collect()
    }
    assert pre == base and base, "pre-filter must not change the verified set"

    # identical docs estimate 1.0 (every minhash agrees)
    twins = _docs(spark, [(1, "a b c d e f"), (2, "a b c d e f")])
    est = D.minhash_lsh_candidates(twins, with_estimate=True).collect()
    assert [(r.id_a, r.id_b, r.est_jaccard) for r in est] == [(1, 2, 1.0)]

    with pytest.raises(ValueError, match="est_jaccard"):
        D.ngram_jaccard_pairs(
            docs, threshold=0.8, candidates=D.minhash_lsh_candidates(docs), prefilter_margin=0.35
        )


# ----------------------------------------------------------- similarity
def test_cosine_zero_norm_is_zero(spark):
    df = spark.createDataFrame(
        [(1, [0.0, 0.0], [1.0, 1.0]), (2, [1.0, 0.0], [1.0, 0.0])],
        "id long, a array<double>, b array<double>",
    )
    got = {r.id: r.c for r in df.select("id", S.cosine(F.col("a"), F.col("b")).alias("c")).collect()}
    assert got[1] == 0.0 and got[2] == pytest.approx(1.0)


def test_cosine_topk_excludes_self_and_orders(spark):
    vecs = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    q = emb.filter("vec_id = 0").select(F.col("vec_id").alias("query_id"), "embedding")
    rows = S.cosine_topk(emb, q, k=2, exclude_self=True).collect()
    assert all(r.vec_id != 0 for r in rows)
    assert len(rows) == 2
    # all remaining are orthogonal (sim 0) → deterministic id tie-break
    assert [r.vec_id for r in rows] == [1, 2]


def test_lsh_buckets_identical_vectors_collide(spark):
    emb = spark.createDataFrame(
        [(1, [1.0] * 8), (2, [1.0] * 8), (3, [-1.0] * 8)],
        "vec_id long, embedding array<double>",
    )
    pairs = S.lsh_bucketed_pairs(emb, n_planes=4, dims=8, threshold=0.99)
    assert [(r.id_a, r.id_b) for r in pairs.collect()] == [(1, 2)]


# ----------------------------------------------------------------- text
def test_profile_documents_empty_and_unknown_lang(spark):
    docs = spark.createDataFrame(
        [(1, "", "x", "s", 0), (2, "the quick fox and the dog", "en", "s", 25), (3, "zzz qqq", "x", "s", 7)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r.doc_id: r for r in T.profile_documents(docs).collect()}
    assert out[1].n_tokens == 0 and out[1].detected_lang is None
    assert out[2].detected_lang == "en"
    assert out[3].detected_lang is None  # tokens but no marker hits
    assert set(out) == {1, 2, 3}  # empty docs are kept


def test_rolling_fingerprint_order_sensitivity(spark):
    a = _docs(spark, [(1, "a b c"), (2, "c b a"), (3, "a b c")])
    from meta_morph_etl_databricks_spark.plans.ml_queries import q_text_codes  # noqa: F401

    fp = {r.doc_id: r.f for r in a.select("doc_id", T.fingerprint("text").alias("f")).collect()}
    assert fp[1] == fp[3] != fp[2]


# ------------------------------------------------------- core operators
def test_theta_left_join_keeps_nonmatching_left_rows(spark):
    """J2: predicate in the ON clause — non-qualifying right rows become
    NULLs, left rows are never dropped (the load-bearing mart quirk)."""
    left = spark.createDataFrame([(1,), (2,)], "k long")
    right = spark.createDataFrame([(1, "ok"), (2, "Cancelled")], "rk long, status string")
    out = theta_left_join(left, right, left["k"] == right["rk"], right["status"] != "Cancelled")
    rows = {r.k: r.status for r in out.collect()}
    assert rows == {1: "ok", 2: None}


def test_top1_per_group_deterministic_tiebreak(spark):
    df = spark.createDataFrame(
        [("g", "b", 5), ("g", "a", 5), ("h", "z", 1)],
        "grp string, item string, score long",
    )
    out = top1_per_group(df, ["grp"], [F.desc("score"), F.asc("item")])
    got = {r.grp: r.item for r in out.collect()}
    assert got == {"g": "a", "h": "z"}


def test_argmax_per_group_null_keys_survive(spark):
    df = spark.createDataFrame(
        [(None, "x", 3), (None, "y", 9), (1, "z", 2)],
        "grp long, item string, score long",
    )
    out = argmax_per_group(df, ["grp"], F.col("score"), ["item"])
    rows = {r.grp: r.item for r in out.collect()}
    assert rows == {None: "y", 1: "z"}


# ------------------------------------------------------------------ skew
def test_salted_agg_matches_plain_agg(spark):
    from meta_morph_etl_databricks_spark.operators.skew import salted_agg

    df = spark.createDataFrame(
        [("hot", float(i)) for i in range(1000)] + [("cold", 5.0)],
        "k string, v double",
    )
    got = {
        r.k: (r.total, r.n, r.lo, r.hi)
        for r in salted_agg(
            df,
            ["k"],
            [("total", "sum", F.col("v")), ("n", "count", F.col("v")),
             ("lo", "min", F.col("v")), ("hi", "max", F.col("v"))],
            buckets=8,
        ).collect()
    }
    assert got["hot"] == (sum(float(i) for i in range(1000)), 1000, 0.0, 999.0)
    assert got["cold"] == (5.0, 1, 5.0, 5.0)


def test_salted_agg_rejects_nonalgebraic(spark):
    from meta_morph_etl_databricks_spark.operators.skew import salted_agg

    df = spark.createDataFrame([("a", 1.0)], "k string, v double")
    with pytest.raises(ValueError):
        salted_agg(df, ["k"], [("bad", "avg", F.col("v"))])


def test_salted_join_matches_plain_join(spark):
    from meta_morph_etl_databricks_spark.operators.skew import salted_join

    fact = spark.createDataFrame(
        [(1, i) for i in range(500)] + [(2, 0), (3, 9)], "k long, payload long"
    )
    dim = spark.createDataFrame([(1, "hot"), (2, "cold")], "k long, name string")
    got = salted_join(fact, dim, ["k"], buckets=4).sort("k", "payload")
    want = fact.join(dim, ["k"]).sort("k", "payload")
    assert [r.asDict() for r in got.collect()] == [r.asDict() for r in want.collect()]
    # left join keeps unmatched fact rows exactly once
    left = salted_join(fact, dim, ["k"], buckets=4, how="left")
    assert left.filter("k = 3").count() == 1


def test_salted_join_guards_replication_blowup(spark):
    from meta_morph_etl_databricks_spark.operators.skew import salted_join

    fact = spark.createDataFrame([(i, i) for i in range(10)], "k long, payload long")
    dim = spark.createDataFrame([(i, "x") for i in range(100)], "k long, name string")
    # 100 dim rows x 16 buckets = 1600 replicated rows > 1000 cap -> raise
    with pytest.raises(ValueError, match="replicate the dim side"):
        salted_join(fact, dim, ["k"], buckets=16, max_replicated_rows=1000)
    # under the cap: runs; probe must not change results
    ok = salted_join(fact, dim, ["k"], buckets=16, max_replicated_rows=10_000)
    assert ok.count() == 10
    # probe disabled: no count job, still correct
    off = salted_join(fact, dim, ["k"], buckets=16, max_replicated_rows=None)
    assert off.count() == 10


def test_deterministic_salt_spreads_and_is_stable(spark):
    from meta_morph_etl_databricks_spark.operators.skew import SALT_COL, salted_agg, with_salt

    df = spark.createDataFrame(
        [("hot", i, float(i)) for i in range(1000)], "k string, rid long, v double"
    )
    salted = with_salt(df, 8, salt_from=["rid"])
    # spreads the hot key over multiple reducers...
    assert salted.select(SALT_COL).distinct().count() > 1
    # ...and re-deals identically on recompute (hash of rid, not rand)
    a = {r.rid: r[SALT_COL] for r in salted.collect()}
    b = {r.rid: r[SALT_COL] for r in salted.collect()}
    assert a == b
    got = {
        r.k: (r.total, r.n)
        for r in salted_agg(
            df, ["k"], [("total", "sum", F.col("v")), ("n", "count", F.col("v"))],
            buckets=8, salt_from=["rid"],
        ).collect()
    }
    assert got["hot"] == (sum(float(i) for i in range(1000)), 1000)


def test_range_join_rejects_outer_how(spark):
    from meta_morph_etl_databricks_spark.operators.rangejoin import range_join

    pts = spark.createDataFrame([(1, 10)], "pid long, v long")
    ivs = spark.createDataFrame([(1, 0, 5)], "iid long, s long, e long")
    with pytest.raises(ValueError, match="inner"):
        range_join(pts, ivs, "v", "s", "e", bucket_width=64, how="left")


def test_ivf_full_probe_equals_brute_force(spark):
    from meta_morph_etl_databricks_spark.operators.similarity import (
        cosine_topk,
        ivf_centroids,
        ivf_topk,
    )

    import random

    rnd = random.Random(7)
    emb = spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(60)],
        "vec_id long, embedding array<double>",
    ).cache()
    cents = ivf_centroids(emb, k=4)
    assert [c[0] for c in cents] == [0, 1, 2, 3]
    q = emb.filter("vec_id < 3").select(F.col("vec_id").alias("query_id"), "embedding")
    # probing ALL lists makes IVF exact — must equal brute force
    ivf = ivf_topk(emb, q, cents, k=5, nprobe=4, exclude_self=True)
    brute = cosine_topk(emb, q, k=5, exclude_self=True)
    key = lambda r: (r.query_id, r.vec_id, r.cosine_sim)  # noqa: E731
    assert sorted(map(key, ivf.collect())) == sorted(map(key, brute.collect()))
    # partial probe returns a subset of each query's probed lists, k rows max
    part = ivf_topk(emb, q, cents, k=5, nprobe=1, exclude_self=True)
    assert part.groupBy("query_id").count().agg(F.max("count")).collect()[0][0] <= 5


def test_ivf_kmeans_codebook_full_probe_equals_brute_force(spark):
    from meta_morph_etl_databricks_spark.operators.similarity import (
        cosine_topk,
        ivf_centroids_kmeans,
        ivf_topk,
    )

    import random

    rnd = random.Random(11)
    emb = spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(60)],
        "vec_id long, embedding array<double>",
    ).cache()
    cents = ivf_centroids_kmeans(emb, k=4)
    assert len(cents) == 4 and all(len(c) == 8 for _, c in cents)
    q = emb.filter("vec_id < 2").select(F.col("vec_id").alias("query_id"), "embedding")
    ivf = ivf_topk(emb, q, cents, k=5, nprobe=4, exclude_self=True)
    brute = cosine_topk(emb, q, k=5, exclude_self=True)
    key = lambda r: (r.query_id, r.vec_id, r.cosine_sim)  # noqa: E731
    assert sorted(map(key, ivf.collect())) == sorted(map(key, brute.collect()))


def test_auto_simhash_bits_sizing():
    """Code size grows with the corpus by the log2 rule, stays a
    multiple of (max_hamming+1) bands, and caps at a signed long."""
    from meta_morph_etl_databricks_spark.operators.dedup import auto_simhash_bits

    assert auto_simhash_bits(100) == 12  # floor: 4 bits × 3 bands
    assert auto_simhash_bits(200_000) == 30  # 10 bits/band
    assert auto_simhash_bits(2_000_000) == 42  # 10× corpus → wider code
    assert auto_simhash_bits(10**9) == 63  # capped, divisible by 3
    assert auto_simhash_bits(10**9, max_hamming=1) == 46  # 2 bands × 23 bits


def test_lsh_auto_plane_sizing(spark):
    """n_planes=None derives the plane count from the corpus size by the
    log2 rule: a 10× corpus gets strictly more planes, the explicit
    override still wins, and tiny corpora keep the floor."""
    from meta_morph_etl_databricks_spark.operators.similarity import auto_n_planes

    assert auto_n_planes(100) == 4  # tiny → floor
    assert auto_n_planes(200_000) == 10
    assert auto_n_planes(2_000_000) == 14  # 10× corpus → more planes
    assert auto_n_planes(1_000_000_000) == 23
    assert auto_n_planes(2_000_000, target_bucket_size=2_000) == 10

    # end-to-end: None triggers the count-derived sizing without error
    import random

    rnd = random.Random(1)
    emb = spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    from meta_morph_etl_databricks_spark.operators.similarity import lsh_bucketed_pairs

    pairs = lsh_bucketed_pairs(emb, n_planes=None, dims=8, threshold=-1.0)
    assert pairs.count() > 0  # threshold -1 keeps every within-bucket pair


def test_ivf_keeps_empty_and_null_vectors(spark):
    """Empty or NULL embedding arrays must not vanish from inverted
    lists: they assign with sim 0.0 everywhere (argmax ties to the
    largest cid, matching the pre-one-shuffle path) and norm 0.0."""
    from meta_morph_etl_databricks_spark.operators.similarity import ivf_assign, ivf_centroids

    import random

    rnd = random.Random(5)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(4)]) for i in range(8)]
    rows += [(100, []), (101, None)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = ivf_centroids(emb.filter("vec_id < 8"), k=4)
    assigned = {r.vec_id: r.centroid_id for r in ivf_assign(emb, cents).collect()}
    assert set(assigned) == {*range(8), 100, 101}  # nothing dropped
    max_cid = max(c for c, _ in cents)
    assert assigned[100] == max_cid and assigned[101] == max_cid


def test_ivf_recall_at_10(spark):
    """ANN quality, not just plan equivalence (the r2 verdict's gap):
    - clustered corpus (the workload IVF exists for): k-means codebook,
      nprobe=2 of 8 lists → recall@10 ≥ 0.9 vs brute-force truth;
    - unstructured corpus (the parquet fixture's near-random vectors):
      recall must still rise monotonically with nprobe — the
      recall/cost dial works even when the data has no cluster geometry.
    """
    from meta_morph_etl_databricks_spark.operators.similarity import (
        cosine_topk,
        ivf_centroids,
        ivf_centroids_kmeans,
        ivf_topk,
    )

    import random

    def recall(emb, q, cents, nprobe, truth):
        got = {
            (r.query_id, r.vec_id)
            for r in ivf_topk(emb, q, cents, k=10, nprobe=nprobe, exclude_self=True).collect()
        }
        return len(got & truth) / len(truth)

    rnd = random.Random(3)
    centers = [[rnd.uniform(-1, 1) for _ in range(16)] for _ in range(8)]
    rows = [
        (i, [v + rnd.gauss(0, 0.05) for v in centers[i % 8]]) for i in range(320)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()
    q = emb.filter("vec_id < 24").select(F.col("vec_id").alias("query_id"), "embedding")
    truth = {(r.query_id, r.vec_id) for r in cosine_topk(emb, q, k=10, exclude_self=True).collect()}
    cents = ivf_centroids_kmeans(emb, k=8, seed=5)
    kmeans_recall = recall(emb, q, cents, nprobe=2, truth=truth)
    assert kmeans_recall >= 0.9
    # the learned codebook must be at least as good as the deterministic
    # seed-rule stand-in on clustered data — the claim that k-means is
    # the "production-quality quantizer" is measured, not asserted
    seed_rule_recall = recall(emb, q, ivf_centroids(emb, k=8), nprobe=2, truth=truth)
    assert kmeans_recall >= seed_rule_recall, (kmeans_recall, seed_rule_recall)

    rnd2 = random.Random(9)
    rows2 = [(i, [rnd2.uniform(-1, 1) for _ in range(16)]) for i in range(300)]
    emb2 = spark.createDataFrame(rows2, "vec_id long, embedding array<double>").cache()
    q2 = emb2.filter("vec_id < 20").select(F.col("vec_id").alias("query_id"), "embedding")
    truth2 = {(r.query_id, r.vec_id) for r in cosine_topk(emb2, q2, k=10, exclude_self=True).collect()}
    cents2 = ivf_centroids(emb2, k=8)
    r1, r2, r4 = (recall(emb2, q2, cents2, np_, truth2) for np_ in (1, 2, 4))
    assert r1 <= r2 <= r4, (r1, r2, r4)
    assert recall(emb2, q2, cents2, 8, truth2) == 1.0  # full probe is exact


def test_auto_nlist_nprobe_sizing():
    """nlist ≈ √n floored at the declared-query 16, capped; nprobe is a
    fixed fraction of the list space with a floor of 2."""
    from meta_morph_etl_databricks_spark.operators.similarity import auto_nlist, auto_nprobe

    assert auto_nlist(200) == 16       # floor: tiny corpora keep ≥16 lists
    assert auto_nlist(500) == 22       # √500
    assert auto_nlist(2_000) == 44     # √2000
    assert auto_nlist(200_000) == 447  # scale100 embeddings
    assert auto_nlist(10**10) == 65536  # capped: broadcast codebook stays tiny
    assert auto_nprobe(16) == 2        # floor (ceil(0.8) < 2)
    assert auto_nprobe(447) == 23      # 5% of the list space
    # scanned fraction nprobe/nlist stays ~constant as the corpus grows
    for n in (10_000, 1_000_000, 100_000_000):
        nl = auto_nlist(n)
        assert 0.04 <= auto_nprobe(nl) / nl <= 0.13


def test_assign_numpy_matches_scored_kernel(spark):
    """The Arrow/BLAS assignment kernel (wide-codebook path) agrees with
    the conditional-sum codegen kernel on every vector — including the
    larger-cid tie-break and empty/NULL vectors."""
    from meta_morph_etl_databricks_spark.operators.similarity import (
        _assign_numpy,
        _assign_scored,
        ivf_centroids,
    )

    import random

    rnd = random.Random(21)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(80)]
    rows += [(80, [0.0] * 8), (81, []), (82, None)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()
    cents = ivf_centroids(emb, k=6)
    scored = {r.vec_id: (r.centroid_id, round(r._n, 9)) for r in _assign_scored(emb, cents, "vec_id", "embedding").collect()}
    numpy_ = {r.vec_id: (r.centroid_id, round(r._n, 9)) for r in _assign_numpy(emb, cents, "vec_id", "embedding").collect()}
    assert scored == numpy_


def test_assign_scored_plan_stays_narrow(spark):
    """Scale-regression pin for the assignment kernel: the conditional
    sums must land in a HashAggregate — ``any_value(array)`` used to
    force SortAggregate, which sorted the exploded rows (n·d of them,
    each carrying the full vector) twice and cost 80 s of a 87 s serve
    query at 200k×64.  The narrow explode + join-back keeps the agg
    hash-based and the exploded rows scalar-only."""
    from meta_morph_etl_databricks_spark.operators.similarity import (
        _assign_scored,
        ivf_centroids,
    )

    emb = spark.createDataFrame(
        [(i, [float(i), float(i + 1)]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    cents = ivf_centroids(emb, k=3)
    plan = (
        _assign_scored(emb, cents, "vec_id", "embedding")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan
    # the explode side must not carry the vector: no any_value agg at all
    assert "any_value" not in plan


def test_quantize_scale_binds_once_under_pruning(spark):
    """Catalyst scale-trap pin (quantize_int8): when a consumer prunes
    ``q_scale``, CollapseProject inlines the scale into the code
    expression.  With the old ``transform`` form that put a full-vector
    ``array_max`` pass inside the per-element lambda — O(d²) per row,
    evaluated for EVERY corpus row by the pushed-down null filter of a
    take-N (measured 89 s for a take-16 over 200k×64).  The
    ``zip_with``/``array_repeat`` binding evaluates the scale once per
    row whatever gets pruned; pin that plan shape."""
    import re

    from meta_morph_etl_databricks_spark.operators.quantize import quantize_int8

    df = spark.createDataFrame([(1, [1.0, 2.0])], "vec_id long, embedding array<double>")
    q = (
        quantize_int8(df)
        .select("vec_id", "q_vec")
        .where(F.col("q_vec").isNotNull())
        .orderBy("vec_id")
        .limit(4)
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    # scale bound once per row through array_repeat...
    assert "array_repeat(" in plan
    # ...and the per-element division is lambda-var / lambda-var — no
    # scale expression inside the lambda body
    assert re.search(r"lambdafunction\(cast\(round\(\(lambda \S+ / lambda \S+\)", plan)


def test_ivf_indexed_serve_path(spark):
    """ivf_topk_indexed over a pre-built ivf_index returns exactly what
    the fused ivf_topk returns, for both assignment kernels — the
    build/serve split changes amortization, not answers."""
    from meta_morph_etl_databricks_spark.operators.similarity import (
        ivf_centroids,
        ivf_index,
        ivf_topk,
        ivf_topk_indexed,
    )

    import random

    rnd = random.Random(13)
    emb = spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(90)],
        "vec_id long, embedding array<double>",
    ).cache()
    cents = ivf_centroids(emb, k=5)
    q = emb.filter("vec_id < 4").select(F.col("vec_id").alias("query_id"), "embedding")
    fused = ivf_topk(emb, q, cents, k=6, nprobe=2, exclude_self=True)
    key = lambda r: (r.query_id, r.vec_id, r.cosine_sim)  # noqa: E731
    want = sorted(map(key, fused.collect()))
    for method in ("scored", "numpy"):
        idx = ivf_index(emb, cents, method=method).cache()
        got = ivf_topk_indexed(idx, q, cents, k=6, nprobe=2, exclude_self=True)
        assert sorted(map(key, got.collect())) == want, method


def test_ivf_auto_sized_recall(spark):
    """The auto-sized (nlist=√n, nprobe=5%) indexed path holds recall@10
    ≥ 0.9 on clustered data — the geometry ANN serves at scale."""
    from meta_morph_etl_databricks_spark.operators.similarity import (
        auto_nlist,
        auto_nprobe,
        cosine_topk,
        ivf_centroids_kmeans,
        ivf_index,
        ivf_topk_indexed,
    )

    import random

    rnd = random.Random(17)
    centers = [[rnd.uniform(-1, 1) for _ in range(16)] for _ in range(24)]
    rows = [(i, [v + rnd.gauss(0, 0.04) for v in centers[i % 24]]) for i in range(1200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()
    n = emb.count()
    nlist, nprobe = auto_nlist(n), auto_nprobe(auto_nlist(n))
    assert nlist == 34 and nprobe == 2
    cents = ivf_centroids_kmeans(emb, k=nlist, seed=29)
    idx = ivf_index(emb, cents).cache()
    q = emb.filter("vec_id < 30").select(F.col("vec_id").alias("query_id"), "embedding")
    truth = {(r.query_id, r.vec_id) for r in cosine_topk(emb, q, k=10, exclude_self=True).collect()}
    got = {
        (r.query_id, r.vec_id)
        for r in ivf_topk_indexed(idx, q, cents, k=10, nprobe=nprobe, exclude_self=True).collect()
    }
    assert len(got & truth) / len(truth) >= 0.9


def test_quantize_int8_roundtrip_and_edges(spark):
    """Reconstruction error is bounded by scale/2 per element; zero,
    empty, and NULL vectors survive with sane codes."""
    from meta_morph_etl_databricks_spark.operators.quantize import dequantize, quantize_int8

    rows = [
        (1, [0.5, -1.0, 0.25, 0.125]),
        (2, [0.0, 0.0]),   # zero vector → scale 1.0, zero code
        (3, []),           # empty → NULL code (max|v| probe is NULL)
        (4, None),         # NULL → NULL code, NULL scale
        (5, [1.0, float("nan")]),   # NaN component → NULL (ANSI cast would die)
        (6, [float("inf"), 1.0]),   # Inf component → NULL (Inf/Inf = NaN)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = quantize_int8(df).withColumn(
        "recon", dequantize(F.col("q_vec"), F.col("q_scale"))
    )
    got = {r.vec_id: r for r in out.collect()}
    assert got[1].q_scale == pytest.approx(1.0 / 127.0)
    assert max(abs(q) for q in got[1].q_vec) == 127  # the max-|v| element pins ±127
    for orig, rec in zip(rows[0][1], got[1].recon):
        assert abs(orig - rec) <= got[1].q_scale / 2 + 1e-12
    assert got[2].q_scale == 1.0 and list(got[2].q_vec) == [0, 0]
    assert got[3].q_vec is None and got[3].q_scale is None
    assert got[4].q_vec is None and got[4].q_scale is None
    assert got[5].q_vec is None and got[5].q_scale is None
    assert got[6].q_vec is None and got[6].q_scale is None


def test_quantized_cosine_matches_float_cosine(spark):
    """Scales cancel in cosine, so the int8 score tracks the float score
    to quantization noise (<0.02 at 16 dims), and recall@10 of the
    quantized top-k against the float top-k is near-total."""
    import random

    from meta_morph_etl_databricks_spark.operators.quantize import quantized_cosine_topk
    from meta_morph_etl_databricks_spark.operators.similarity import cosine_topk

    rnd = random.Random(7)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()
    q = emb.filter("vec_id < 20").select(F.col("vec_id").alias("query_id"), "embedding")

    truth = {
        (r.query_id, r.vec_id): r.cosine_sim
        for r in cosine_topk(emb, q, k=10, exclude_self=True).collect()
    }
    quant = {
        (r.query_id, r.vec_id): r.cosine_sim
        for r in quantized_cosine_topk(emb, q, k=10, exclude_self=True).collect()
    }
    recall = len(truth.keys() & quant.keys()) / len(truth)
    assert recall >= 0.95, recall
    for pair in truth.keys() & quant.keys():
        assert abs(truth[pair] - quant[pair]) < 0.02, pair


def test_simhash_hamming_banding_finds_all_close_pairs(spark):
    """Banding must be a SUPERSET of the hamming ball (pigeonhole) —
    verify against an exhaustive all-pairs hamming scan."""
    docs = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),   # identical → hamming 0
            (3, "alpha beta gamma delta epsilon eta"),    # near
            (4, "totally different words entirely here"),
        ],
    )
    got = {(r.id_a, r.id_b): r.hamming for r in D.simhash_hamming_pairs(docs, bits=12, max_hamming=2).collect()}
    codes = {r.doc_id: r.simhash for r in D.simhash_codes(docs, bits=12).collect()}
    want = {
        (i, j): bin(codes[i] ^ codes[j]).count("1")
        for i in codes
        for j in codes
        if i < j and bin(codes[i] ^ codes[j]).count("1") <= 2
    }
    assert got == want
    assert got[(1, 2)] == 0


def test_simhash_hamming_multiband_pair_emitted_once(spark):
    """A pair sharing SEVERAL bands (identical docs share all of them)
    must still appear exactly once: the first-matching-band filter that
    replaced the old distinct() may not leak per-band duplicates."""
    docs = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),  # identical → all 3 bands match
            (3, "alpha beta gamma delta epsilon zeta"),  # identical triple
            (4, "alpha beta gamma delta epsilon eta"),
        ],
    )
    rows = D.simhash_hamming_pairs(docs, bits=12, max_hamming=2).collect()
    pairs = [(r.id_a, r.id_b) for r in rows]
    assert len(pairs) == len(set(pairs)), pairs
    assert {(1, 2), (1, 3), (2, 3)} <= set(pairs)


def test_simhash_hamming_rejects_nondivisible_bits(spark):
    docs = _docs(spark, [(1, "a b c")])
    with pytest.raises(ValueError):
        D.simhash_hamming_pairs(docs, bits=13, max_hamming=2)


# ------------------------------------------------------------- sampling
def test_train_test_split_disjoint_exhaustive_stable(spark, sf_dir):
    from meta_morph_etl_databricks_spark.operators.sampling import train_test_split
    from meta_morph_etl_databricks_spark.sources.scans import read_parquet_table

    docs = read_parquet_table(spark, sf_dir, "documents")
    train, test = train_test_split(docs, "doc_id", test_fraction=0.2, seed=3)
    n, ntr, nte = docs.count(), train.count(), test.count()
    assert ntr + nte == n                      # exhaustive
    assert train.join(test, "doc_id").count() == 0  # disjoint
    assert 0.05 < nte / n < 0.40               # roughly the asked fraction
    # stability: same membership after an arbitrary repartition
    test2_ids = {
        r.doc_id
        for r in train_test_split(docs.repartition(7), "doc_id", 0.2, seed=3)[1]
        .select("doc_id").collect()
    }
    assert test2_ids == {r.doc_id for r in test.select("doc_id").collect()}
    # a different seed draws a different assignment
    _, test_other = train_test_split(docs, "doc_id", 0.2, seed=4)
    other_ids = {r.doc_id for r in test_other.select("doc_id").collect()}
    assert other_ids != test2_ids


# ------------------------------------------------------------ as-of join
def test_asof_join_backward_ties_and_missing(spark):
    from datetime import datetime

    from meta_morph_etl_databricks_spark.operators.asof import asof_join

    t = lambda s: datetime.fromisoformat(f"2024-01-01 {s}")  # noqa: E731
    left = spark.createDataFrame(
        [(1, t("10:00:00"), "L1"), (1, t("11:00:00"), "L2"), (2, t("09:00:00"), "L3")],
        "k long, ts timestamp, lbl string",
    )
    right = spark.createDataFrame(
        [(1, t("10:00:00"), 5.0), (1, t("10:30:00"), 7.0), (3, t("08:00:00"), 9.0)],
        "k long, ts timestamp, v double",
    )
    out = {r.lbl: (r.v, r.matched_ts) for r in asof_join(left, right, on=["k"], payload=["v"]).collect()}
    assert out["L1"] == (5.0, t("10:00:00"))   # equal-ts right row matches
    assert out["L2"] == (7.0, t("10:30:00"))   # latest prior wins
    assert out["L3"] == (None, None)           # no right rows for key → NULL, row kept


def test_asof_join_carries_latest_row_wholesale_nulls_included(spark):
    """The latest matching right row must be carried atomically: its NULL
    payload values stay NULL instead of being back-filled from older rows
    (merge_asof / DuckDB ASOF semantics)."""
    from datetime import datetime

    from meta_morph_etl_databricks_spark.operators.asof import asof_join

    t = lambda s: datetime.fromisoformat(f"2024-01-01 {s}")  # noqa: E731
    left = spark.createDataFrame([(1, t("12:00:00"), "L")], "k long, ts timestamp, lbl string")
    right = spark.createDataFrame(
        [(1, t("10:00:00"), 5.0, "old"), (1, t("11:00:00"), None, "new")],
        "k long, ts timestamp, v double, tag string",
    )
    row = asof_join(left, right, on=["k"], payload=["v", "tag"]).collect()[0]
    # latest right row is (11:00, NULL, "new") — v must be NULL, not 5.0,
    # and the columns must come from the SAME right row
    assert row.tag == "new" and row.v is None and row.matched_ts == t("11:00:00")


def test_asof_join_tolerance(spark):
    from datetime import datetime

    from meta_morph_etl_databricks_spark.operators.asof import asof_join

    t = lambda s: datetime.fromisoformat(f"2024-01-01 {s}")  # noqa: E731
    left = spark.createDataFrame([(1, t("12:00:00"), "L")], "k long, ts timestamp, lbl string")
    right = spark.createDataFrame([(1, t("09:00:00"), 1.0)], "k long, ts timestamp, v double")
    loose = asof_join(left, right, on=["k"], payload=["v"], tolerance_seconds=4 * 3600).collect()[0]
    tight = asof_join(left, right, on=["k"], payload=["v"], tolerance_seconds=3600).collect()[0]
    assert loose.v == 1.0
    assert tight.v is None and tight.matched_ts is None


# ------------------------------------------------------------ range join
def test_range_join_matches_nested_loop(spark):
    import random

    from meta_morph_etl_databricks_spark.operators.rangejoin import range_join

    rnd = random.Random(5)
    pts = spark.createDataFrame(
        [(i, rnd.randrange(0, 1000)) for i in range(200)], "pid long, v long"
    )
    ivs = spark.createDataFrame(
        [(j, s := rnd.randrange(0, 950), s + rnd.randrange(1, 120)) for j in range(40)],
        "iid long, s long, e long",
    )
    got = range_join(pts, ivs, "v", "s", "e", bucket_width=64).select("pid", "iid")
    want = pts.join(ivs, (pts.v >= ivs.s) & (pts.v < ivs.e)).select("pid", "iid")
    key = lambda r: (r.pid, r.iid)  # noqa: E731
    assert sorted(map(key, got.collect())) == sorted(map(key, want.collect()))
    # inclusive end picks up boundary hits
    inc = range_join(pts, ivs, "v", "s", "e", bucket_width=64, end_inclusive=True).count()
    assert inc >= got.count()


def test_decontaminate_flags_ngram_overlap(spark):
    """A corpus doc sharing any word n-gram with the eval set is
    flagged with the distinct-shingle hit count; disjoint docs and
    docs shorter than the shingle width never flag."""
    from meta_morph_etl_databricks_spark.operators.dedup import decontaminate

    eval_docs = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "we saw the quick brown fox today"),  # shares 2 trigrams
            (2, "completely different words here entirely"),
            (3, "quick brown"),  # shorter than the shingle width
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in decontaminate(corpus, eval_docs, shingle_n=3).collect()}
    assert got[1].contaminated and got[1].n_hits == 2  # 'the quick brown', 'quick brown fox'
    assert not got[2].contaminated and got[2].n_hits == 0
    assert not got[3].contaminated
    assert len(got) == 3  # every corpus doc reported, flagged or not


def test_pack_sequences_start_fit_and_shards(spark):
    """Start-fit packing: a doc joins the bin its first token falls in
    (bins overflow by at most one doc); shards pack independently; ids
    and totals are deterministic."""
    from meta_morph_etl_databricks_spark.operators.packing import (
        pack_rollup,
        pack_sequences,
    )

    mk = lambda n: " ".join(["w"] * n)  # noqa: E731
    rows = [(0, mk(4)), (1, mk(4)), (2, mk(4)), (3, mk(2)),  # shard 0
            (10, mk(9)), (11, mk(3))]                         # shard 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in pack_sequences(docs, budget_tokens=10, shard_span=10).collect()}
    # shard 0 cumsums-before: 0,4,8,12 → bins 0,0,0,1 (doc 2 overflows bin 0 to 12 tokens)
    assert [got[i].pack_in_shard for i in (0, 1, 2, 3)] == [0, 0, 0, 1]
    # shard 1 restarts: before = 0, 9 → bins 0, 0
    assert got[10].shard == 1 and [got[i].pack_in_shard for i in (10, 11)] == [0, 0]
    # pack_id stride is 2^32, NOT shard_span: pack count per shard is
    # bounded by token mass / budget, which shard_span does not cap
    assert got[3].pack_id == 1 and got[10].pack_id == (1 << 32)
    roll = {r.pack_id: r for r in pack_rollup(
        pack_sequences(docs, budget_tokens=10, shard_span=10)).collect()}
    assert roll[0].n_docs == 3 and roll[0].total_tokens == 12
    assert roll[1].n_docs == 1 and roll[1].total_tokens == 2
    assert roll[1 << 32].n_docs == 2 and roll[1 << 32].total_tokens == 12
    # cross-shard uniqueness even when packs-per-shard exceeds shard_span:
    # 3 docs of 8 tokens at budget 2 in one span-2 shard -> pack indices
    # 0,4,8 all > span; none may collide with shard 1's ids
    many = spark.createDataFrame(
        [(0, mk(8)), (1, mk(8)), (2, mk(8)), (3, mk(1))], "doc_id long, text string"
    )
    packed = pack_sequences(many, budget_tokens=2, shard_span=2).collect()
    ids = [(r.shard, r.pack_in_shard, r.pack_id) for r in packed]
    assert len({p for _, _, p in ids}) == len({(s, b) for s, b, _ in ids})

    with pytest.raises(ValueError, match="positive"):
        pack_sequences(docs, budget_tokens=0)


def test_repetition_profile_gopher_signals(spark):
    """dup/top bigram fractions: a document that is one phrase repeated
    scores high on both; unique text scores 0; sub-bigram docs are kept
    with zero fractions."""
    from meta_morph_etl_databricks_spark.operators.text import repetition_profile

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam"),      # 4 bigrams, all 'spam spam'
            (2, "one two three four five"),        # 4 unique bigrams
            (3, "word"),                           # shorter than a bigram
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_profile(docs).collect()}
    assert got[1].n_grams == 4 and got[1].dup_gram_frac == 0.75 and got[1].top_gram_frac == 1.0
    assert got[2].dup_gram_frac == 0.0 and got[2].top_gram_frac == 0.25
    assert got[3].n_grams == 0 and got[3].dup_gram_frac == 0.0 and got[3].top_gram_frac == 0.0


def test_quantized_corpus_flows_through_ivf(spark):
    """The int8-quantized corpus composes with the IVF index exactly as
    any DataFrame (the quantize.py claim): dequantized vectors through
    ivf_index + ivf_topk_indexed give near-total recall vs the float
    index at full probe."""
    from meta_morph_etl_databricks_spark.operators.quantize import dequantize, quantize_int8
    from meta_morph_etl_databricks_spark.operators.similarity import (
        ivf_centroids,
        ivf_index,
        ivf_topk_indexed,
    )

    import random

    rnd = random.Random(31)
    emb = spark.createDataFrame(
        [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(80)],
        "vec_id long, embedding array<double>",
    ).cache()
    deq = quantize_int8(emb).select(
        "vec_id", dequantize(F.col("q_vec"), F.col("q_scale")).alias("embedding")
    ).cache()
    cents = ivf_centroids(emb, k=4)
    q = emb.filter("vec_id < 5").select(F.col("vec_id").alias("query_id"), "embedding")
    want = {
        (r.query_id, r.vec_id)
        for r in ivf_topk_indexed(ivf_index(emb, cents), q, cents, k=10, nprobe=4,
                                  exclude_self=True).collect()
    }
    got = {
        (r.query_id, r.vec_id)
        for r in ivf_topk_indexed(ivf_index(deq, cents), q, cents, k=10, nprobe=4,
                                  exclude_self=True).collect()
    }
    assert len(got & want) / len(want) >= 0.9  # int8 rounding may flip distant ranks


def test_pack_sequences_negative_ids_floor_shard(spark):
    """Negative ids shard by FLOOR division (oracle `//` semantics), not
    trunc-toward-zero: -1 belongs to shard -1, not shard 0."""
    from meta_morph_etl_databricks_spark.operators.packing import pack_sequences

    docs = spark.createDataFrame(
        [(-1, "a b c"), (0, "d e f")], "doc_id long, text string"
    )
    got = {r.doc_id: r.shard for r in pack_sequences(docs, budget_tokens=10, shard_span=10).collect()}
    assert got == {-1: -1, 0: 0}


def test_mix_corpus_epoch_weights(spark):
    """Domain mixing: floor(w) guaranteed epochs + stable fractional
    draw; w=0 drops the source; default weight 1.0; negatives rejected;
    copy_idx enumerates epochs."""
    from meta_morph_etl_databricks_spark.operators.sampling import BUCKETS, hash_bucket, mix_corpus

    rows = [(i, f"src{i % 4}", "t") for i in range(400)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = mix_corpus(docs, {"src0": 3.0, "src1": 0.5, "src2": 0.0}, seed=7).cache()
    per = {r.source: r.n for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert per["src0"] == 300  # 3 epochs exactly, no fractional draw
    assert per.get("src2") is None  # dropped
    assert per["src3"] == 100  # default weight 1.0
    assert 20 <= per["src1"] <= 80  # ~50% of 100, deterministic given seed
    # the fractional draw is exactly the hash-bucket rule, row by row
    want = docs.filter(
        (F.col("source") == "src1") & (hash_bucket("doc_id", 7) < BUCKETS // 2)
    ).count()
    assert per["src1"] == want
    # copy_idx enumerates epochs 1..3 for src0
    idx = sorted(
        r.copy_idx for r in out.filter("source = 'src0' AND doc_id = 0").collect()
    )
    assert idx == [1, 2, 3]

    # the 0.3 fractional cut resolves EXACTLY to bucket 3000 — the
    # column-side (w - floor(w)) * 10000 double product truncates to 2999
    frac = mix_corpus(docs, {"src0": 0.3}, seed=7).filter("source = 'src0'").count()
    want_frac = docs.filter(
        (F.col("source") == "src0") & (hash_bucket("doc_id", 7) < 3000)
    ).count()
    assert frac == want_frac

    with pytest.raises(ValueError, match="negative"):
        mix_corpus(docs, {"src0": -1.0})


def test_connected_components_path_graph(spark):
    """A 64-node path is the worst case for label propagation
    (diameter 63); alternating star must still collapse it to one
    component labeled by the min id within max_rounds."""
    from meta_morph_etl_databricks_spark.operators.components import connected_components

    pairs = spark.createDataFrame([(i, i + 1) for i in range(63)], "id_a long, id_b long")
    out = connected_components(pairs).collect()
    assert len(out) == 64
    assert all(r.component == 0 for r in out)


def test_connected_components_multi_and_orientation(spark):
    """Triangle given in mixed/reversed orientations with duplicate
    edges, plus a second component — labels are per-component minima."""
    from meta_morph_etl_databricks_spark.operators.components import connected_components

    rows = [(5, 3), (3, 9), (9, 5), (9, 5), (20, 21), (21, 20), (22, 21), (7, 7)]
    got = {
        r.node: r.component
        for r in connected_components(
            spark.createDataFrame(rows, "id_a long, id_b long")
        ).collect()
    }
    # the (7,7) self-loop carries no connectivity, but 7 IS mentioned in
    # pairs — it appears as its own singleton component
    assert got == {3: 3, 5: 3, 7: 7, 9: 3, 20: 20, 21: 20, 22: 20}


def test_connected_components_empty_and_hub_determinism(spark):
    """Empty input keeps the (node, component) schema; a 2000-edge hub
    star (the skewed shape) resolves identically under different input
    partitionings — the labels are data-derived, not partition-derived."""
    from meta_morph_etl_databricks_spark.operators.components import connected_components

    empty = connected_components(spark.createDataFrame([], "id_a long, id_b long"))
    assert empty.columns == ["node", "component"]
    assert empty.count() == 0

    hub = spark.createDataFrame([(0, i) for i in range(1, 2000)], "id_a long, id_b long")
    o1 = {(r.node, r.component) for r in connected_components(hub.repartition(16)).collect()}
    o2 = {(r.node, r.component) for r in connected_components(hub.coalesce(1)).collect()}
    assert o1 == o2
    assert len(o1) == 2000 and all(c == 0 for _, c in o1)


def test_connected_components_max_rounds_raises(spark, monkeypatch):
    """Non-convergence within the round budget is an error, never a
    wrong answer.  (Forces the distributed star rounds — the r14 driver
    fast path has no rounds to exhaust.)"""
    import meta_morph_etl_databricks_spark.operators.components as C

    monkeypatch.setattr(C, "_DRIVER_CC_MAX_EDGES", 0)
    pairs = spark.createDataFrame([(i, i + 1) for i in range(40)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="no convergence"):
        C.connected_components(pairs, max_rounds=1)


def test_dedup_by_components_keeps_canonical_and_singletons(spark):
    """Component losers drop; min-id member and never-paired docs
    survive untouched."""
    from meta_morph_etl_databricks_spark.operators.components import dedup_by_components

    docs = spark.range(10).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "id_a long, id_b long")
    kept = sorted(r.doc_id for r in dedup_by_components(docs, pairs).collect())
    assert kept == [0, 1, 4, 5, 6, 7, 9]


def _pq_fixture(spark, n=200, dim=16, n_centers=8, noise=0.05):
    import random

    random.seed(7)
    centers = [[random.uniform(-1, 1) for _ in range(dim)] for _ in range(n_centers)]
    rows = [
        (i, [v + random.gauss(0, noise) for v in centers[i % n_centers]])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_pq_encode_shape_and_determinism(spark):
    """PQ codes: m tinyint entries in [0, ksub); pq_norm_sq equals the
    hand-computed reconstruction norm; output invariant to input
    partitioning; dim/m validation."""
    from meta_morph_etl_databricks_spark.operators.quantize import (
        pq_codebooks_from_codes,
        pq_encode,
        quantize_int8,
    )

    emb = _pq_fixture(spark)
    codes = quantize_int8(emb).select("vec_id", "q_vec")
    cb = pq_codebooks_from_codes(codes, m=4, ksub=16)
    assert (len(cb), len(cb[0]), len(cb[0][0])) == (4, 16, 4)

    enc = pq_encode(codes, cb)
    rows = {r.vec_id: r for r in enc.collect()}
    assert all(len(r.pq_code) == 4 for r in rows.values())
    assert all(0 <= c < 16 for r in rows.values() for c in r.pq_code)
    some = rows[17]
    assert some.pq_norm_sq == sum(
        sum(v * v for v in cb[s][some.pq_code[s]]) for s in range(4)
    )
    again = {
        (r.vec_id, tuple(r.pq_code))
        for r in pq_encode(codes.repartition(13), cb).collect()
    }
    assert again == {(r.vec_id, tuple(r.pq_code)) for r in rows.values()}

    with pytest.raises(ValueError, match="not divisible"):
        pq_codebooks_from_codes(codes, m=5)

    # a NULL vector among the lowest ids must not crash codebook
    # training (skipped, same contract as pq_encode's NULL code)
    with_null = spark.createDataFrame(
        [(-1, None)], "vec_id long, q_vec array<tinyint>"
    ).unionByName(codes)
    cb2 = pq_codebooks_from_codes(with_null, m=4, ksub=16)
    assert (len(cb2), len(cb2[0])) == (4, 16)
    enc2 = pq_encode(with_null, cb2)
    assert enc2.filter("vec_id = -1").first().pq_code is None


def test_pq_adc_and_rerank_recall(spark):
    """ADC alone is the candidate generator (moderate recall at m-byte
    compression — cluster members share codes); retrieve→re-rank
    restores ≥0.9 recall@10 while reading full vectors for only
    k·factor rows per query."""
    from meta_morph_etl_databricks_spark.operators.quantize import (
        pq_adc_topk,
        pq_codebooks_from_codes,
        pq_encode,
        pq_topk_rerank,
        quantize_int8,
    )
    from meta_morph_etl_databricks_spark.operators.similarity import cosine_topk

    emb = _pq_fixture(spark)
    queries = emb.filter("vec_id < 3").select(F.col("vec_id").alias("query_id"), "embedding")
    codes = quantize_int8(emb).select("vec_id", "q_vec")
    cb = pq_codebooks_from_codes(codes, m=4, ksub=16)
    enc = pq_encode(codes, cb)

    exact = {(r.query_id, r.vec_id) for r in cosine_topk(emb, queries, k=10, exclude_self=True).collect()}
    adc = pq_adc_topk(enc, queries, cb, k=10, exclude_self=True)
    got = adc.collect()
    assert {r.query_id for r in got} == {0, 1, 2}
    assert all(len([r for r in got if r.query_id == q]) == 10 for q in (0, 1, 2))
    adc_recall = len({(r.query_id, r.vec_id) for r in got} & exact) / len(exact)
    assert adc_recall >= 0.4

    rr = pq_topk_rerank(emb, queries, cb, encoded=enc, k=10, rerank_factor=5, exclude_self=True)
    rr_recall = len({(r.query_id, r.vec_id) for r in rr.collect()} & exact) / len(exact)
    assert rr_recall >= 0.9
    assert rr_recall >= adc_recall


def test_pq_kmeans_codebooks_beat_or_match_seed_rule(spark):
    """Learned per-subspace codebooks (MLlib k-means on the int8
    slices) should not lose to the seed rule on a clustered corpus."""
    from meta_morph_etl_databricks_spark.operators.quantize import (
        pq_adc_topk,
        pq_codebooks_from_codes,
        pq_codebooks_kmeans,
        pq_encode,
        quantize_int8,
    )
    from meta_morph_etl_databricks_spark.operators.similarity import cosine_topk

    emb = _pq_fixture(spark)
    queries = emb.filter("vec_id < 3").select(F.col("vec_id").alias("query_id"), "embedding")
    codes = quantize_int8(emb).select("vec_id", "q_vec")
    exact = {(r.query_id, r.vec_id) for r in cosine_topk(emb, queries, k=10, exclude_self=True).collect()}

    def recall(cb):
        enc = pq_encode(codes, cb)
        got = {(r.query_id, r.vec_id) for r in pq_adc_topk(enc, queries, cb, k=10, exclude_self=True).collect()}
        return len(got & exact) / len(exact)

    seed = recall(pq_codebooks_from_codes(codes, m=4, ksub=16))
    learned = recall(pq_codebooks_kmeans(emb, m=4, ksub=16))
    assert learned >= seed - 0.05  # parity floor; typically strictly better


def test_sketch_distinct_merge_equals_whole(spark):
    """HLL mergeability — the property the incremental-stats pattern
    rests on: per-slice sketches unioned give (a) the same estimate as
    sketching the whole, and (b) an estimate within ~2% of the exact
    distinct at lgk=12.  Overlapping slices must NOT double-count."""
    from meta_morph_etl_databricks_spark.operators.sketches import (
        merged_distinct,
        sketch_distinct,
    )

    # 3 "days", overlapping user populations: day d holds users
    # [500*d, 500*d + 2000) → union = [0, 3000), 3000 distinct
    df = (
        spark.range(3 * 2000)
        .select(
            (F.col("id") / 2000).cast("int").alias("day"),
            (F.pmod(F.col("id"), 2000) + (F.col("id") / 2000).cast("int") * 500).alias("user_id"),
        )
    )
    per_day = sketch_distinct(df, "user_id", by=["day"])
    assert per_day.count() == 3
    merged = merged_distinct(per_day).first()
    exact = df.select("user_id").distinct().count()
    assert exact == 3000
    assert abs(merged.approx_distinct - exact) / exact < 0.02

    # union-of-parts is not bit-identical to sketch-of-whole (the union
    # operator may carry its own internal mode) but both sit inside the
    # same error envelope
    whole = merged_distinct(sketch_distinct(df, "user_id")).first()
    assert abs(whole.approx_distinct - merged.approx_distinct) / exact < 0.01

    # windowed merge: days {0,1} only → union [0, 2500)
    window = merged_distinct(per_day.filter("day < 2")).first()
    assert abs(window.approx_distinct - 2500) / 2500 < 0.02


def test_heavy_hitters_exact_membership_and_counts(spark):
    """Two-pass frequent items: membership and counts are EXACT despite
    the approximate first pass — heavy keys found, tail excluded,
    counts equal groupBy truth."""
    from meta_morph_etl_databricks_spark.operators.sketches import heavy_hitters

    # 10k rows: 'a' 30%, 'b' 15%, 400 distinct tail items sharing 55%
    rows = (
        [("a",)] * 3000
        + [("b",)] * 1500
        + [(f"t{i % 400}",) for i in range(5500)]
    )
    df = spark.createDataFrame(rows, "k string").repartition(8)
    got = {r.item: (r.n_rows, round(r.frequency, 4)) for r in heavy_hitters(df, "k", support=0.1).collect()}
    assert got == {"a": (3000, 0.3), "b": (1500, 0.15)}

    with pytest.raises(ValueError, match="support"):
        heavy_hitters(df, "k", support=0.0)

    # exact_threshold BELOW support*total would make membership
    # nondeterministic (items between the two lines may or may not be
    # pass-1 candidates) — rejected; at-or-above is fine
    with pytest.raises(ValueError, match="exact_threshold"):
        heavy_hitters(df, "k", support=0.1, exact_threshold=500)
    raised = {
        r.item
        for r in heavy_hitters(df, "k", support=0.1, exact_threshold=2000).collect()
    }
    assert raised == {"a"}


def test_pq_ksub_bounds_rejected(spark):
    """ksub > 128 would silently wrap the tinyint pq_code — both the
    trainers and the encoder must reject it."""
    from meta_morph_etl_databricks_spark.operators.quantize import (
        pq_codebooks_from_codes,
        pq_encode,
    )

    codes = spark.createDataFrame(
        [(1, [1] * 8), (2, [2] * 8)], "vec_id long, q_vec array<tinyint>"
    )
    with pytest.raises(ValueError, match="ksub"):
        pq_codebooks_from_codes(codes, m=2, ksub=129)
    fake_cb = [[[0] * 4] * 129] * 2  # m=2, ksub=129, d=4
    with pytest.raises(ValueError, match="ksub"):
        pq_encode(codes, fake_cb)


def test_pq_kmeans_null_safe(spark):
    """A NULL embedding row must not poison the k-means trainer — dim
    comes from a non-NULL row and NULL rows are excluded from the fits
    (same contract as the seed-rule trainer)."""
    from meta_morph_etl_databricks_spark.operators.quantize import pq_codebooks_kmeans

    rows = [(i, [float((i * 7 + j) % 13) for j in range(8)]) for i in range(20)]
    emb = spark.createDataFrame(
        [(99, None)] + rows, "vec_id long, embedding array<double>"
    )
    cb = pq_codebooks_kmeans(emb, m=2, ksub=4)
    assert len(cb) == 2 and len(cb[0]) == 4 and len(cb[0][0]) == 4


def test_chunk_documents_windows_and_validation(spark):
    """Sliding-window chunking: starts step by stride, tail partial,
    zero-token docs emit nothing, reassembling stride-prefixes plus the
    final tail reproduces the document; parameter validation."""
    from meta_morph_etl_databricks_spark.operators.packing import chunk_documents

    text = " ".join(f"t{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, text), (2, "a b"), (3, ""), (4, "   ")], "doc_id long, text string"
    )
    out = sorted(
        chunk_documents(docs, chunk_tokens=8, overlap=4).collect(),
        key=lambda r: (r.doc_id, r.chunk_idx),
    )
    got = [(r.doc_id, r.chunk_idx, r.n_tokens, r.chunk_text) for r in out]
    assert got == [
        (1, 0, 8, "t0 t1 t2 t3 t4 t5 t6 t7"),
        (1, 1, 6, "t4 t5 t6 t7 t8 t9"),
        (1, 2, 2, "t8 t9"),
        (2, 0, 2, "a b"),
    ]
    # stride-prefix of every non-final chunk + the final chunk == doc
    doc1 = [r for r in got if r[0] == 1]
    rebuilt = " ".join(
        " ".join(r[3].split()[:4]) for r in doc1[:-1]
    ) + " " + doc1[-1][3]
    assert rebuilt == text

    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, chunk_tokens=8, overlap=8)
    with pytest.raises(ValueError, match="chunk_tokens"):
        chunk_documents(docs, chunk_tokens=0)


def test_ivf_pq_full_probe_equals_flat_adc_and_partial_recalls(spark):
    """IVF-PQ composition: probing every list reproduces the flat ADC
    ranking row-for-row (the IVF layer only restricts candidates); a
    2-list probe on a clustered corpus keeps most of the flat-ADC
    ranking while touching a fraction of the rows."""
    from meta_morph_etl_databricks_spark.operators.quantize import (
        ivf_pq_index,
        ivf_pq_topk,
        pq_adc_topk,
        pq_codebooks_from_codes,
        pq_encode,
        quantize_int8,
    )
    from meta_morph_etl_databricks_spark.operators.similarity import ivf_centroids

    emb = _pq_fixture(spark)
    queries = emb.filter("vec_id < 3").select(F.col("vec_id").alias("query_id"), "embedding")
    codes = quantize_int8(emb).select("vec_id", "q_vec")
    cb = pq_codebooks_from_codes(codes, m=4, ksub=16)
    cents = ivf_centroids(emb, k=8)
    index = ivf_pq_index(emb, cents, cb).persist()
    assert index.columns == ["vec_id", "centroid_id", "pq_code", "pq_norm_sq"]
    assert index.count() == 200

    flat = {
        (r.query_id, r.vec_id, r.cosine_sim)
        for r in pq_adc_topk(pq_encode(codes, cb), queries, cb, k=10, exclude_self=True).collect()
    }
    full = {
        (r.query_id, r.vec_id, r.cosine_sim)
        for r in ivf_pq_topk(index, queries, cents, cb, k=10, nprobe=8, exclude_self=True).collect()
    }
    assert full == flat

    part = {
        (r.query_id, r.vec_id)
        for r in ivf_pq_topk(index, queries, cents, cb, k=10, nprobe=2, exclude_self=True).collect()
    }
    flat_ids = {(q, v) for q, v, _ in flat}
    assert len(part & flat_ids) / len(flat_ids) >= 0.7
    index.unpersist()


def test_curate_corpus_group_collapse_vs_pair_drop(spark):
    """The two near-dup removal policies through the REAL chain (1-row
    LSH bands make candidacy deterministic): doc3 bridges docs 1 and 2
    (J(1,3)=0.58, J(2,3)=0.43 ≥ 0.4; J(1,2)=0.30 < 0.4).  Pair-drop
    removes only verified near-dups' larger ids → keeps {1,2};
    group_collapse removes everything transitively connected → {1}."""
    from meta_morph_etl_databricks_spark.operators.dedup import curate_corpus
    from meta_morph_etl_databricks_spark.operators.incremental import minhash_band_index

    words = [f"w{i}" for i in range(16)]
    d1 = "the " + " ".join(words)
    d2 = "the " + " ".join(words[:8] + [f"x{i}" for i in range(8)])
    d3 = "the " + " ".join(words[:12] + [f"x{i}" for i in range(4)])
    docs = spark.createDataFrame([(1, d1), (2, d2), (3, d3)], "doc_id long, text string")

    def kept(gc):
        return sorted(
            r.doc_id
            for r in curate_corpus(
                docs, minhash_band_index(docs, num_hashes=16, bands=16),
                min_quality=0.0, jaccard_threshold=0.4, group_collapse=gc,
            ).select("doc_id").collect()
        )

    assert kept(False) == [1, 2]
    assert kept(True) == [1]


def test_ngram_jaccard_round_boundary_matches_oracle(spark):
    """A pair whose TRUE jaccard is in [t−5e-5, t) must be KEPT at
    threshold t: the engine thresholds the 4dp-ROUNDED score
    (ngram_jaccard_pairs rounds before its filter), and the oracle must
    round identically — an unrounded oracle compare diverges on exactly
    this pair class (reachable from ~800 shared shingles up, i.e.
    guaranteed somewhere in any corpus-scale run).

    Construction: 802 common tokens (800 shared shingles) + enough
    distinct tail tokens for |union| = 4001 → jaccard = 800/4001 =
    0.19995001... < 0.2, rounds to 0.2000.
    """
    import duckdb

    common = " ".join(f"c{i}" for i in range(802))
    doc_a = common + " " + " ".join(f"a{i}" for i in range(1600))
    doc_b = common + " " + " ".join(f"b{i}" for i in range(1601))
    docs = spark.createDataFrame([(1, doc_a), (2, doc_b)], "doc_id long, text string")
    got = D.ngram_jaccard_pairs(docs, threshold=0.2, allow_all_pairs=True).collect()
    assert [(r.id_a, r.id_b, r.jaccard) for r in got] == [(1, 2, 0.2)]

    # cross-engine: DuckDB's ROUND of the same rational keeps the pair
    # too (and the pre-fix unrounded compare would have dropped it)
    con = duckdb.connect()
    rounded, raw = con.execute(
        "SELECT ROUND(CAST(800 AS DOUBLE)/4001, 4) >= 0.2,"
        "       CAST(800 AS DOUBLE)/4001 >= 0.2"
    ).fetchone()
    con.close()
    assert rounded is True and raw is False


def test_ivf_pq_rerank_restores_recall(spark):
    """The full FAISS deployment shape: IVF bounds the rows touched,
    ADC nominates k·factor of them, float re-rank restores the ranking.
    At full probe the candidate set contains everything ADC would rank
    corpus-wide, so rerank recall must beat raw IVF-PQ and clear 0.9 —
    the fix BENCH_SCALE documents for the 200k family-packed corpus
    where raw ADC recall collapses."""
    from meta_morph_etl_databricks_spark.operators.quantize import (
        ivf_pq_index,
        ivf_pq_topk,
        ivf_pq_topk_rerank,
        pq_codebooks_from_codes,
        quantize_int8,
    )
    from meta_morph_etl_databricks_spark.operators.similarity import (
        cosine_topk,
        ivf_centroids,
    )

    emb = _pq_fixture(spark)
    queries = emb.filter("vec_id < 3").select(F.col("vec_id").alias("query_id"), "embedding")
    cents = ivf_centroids(emb, k=8)
    cb = pq_codebooks_from_codes(quantize_int8(emb).select("vec_id", "q_vec"), m=4, ksub=16)
    idx = ivf_pq_index(emb, cents, cb)

    exact = {
        (r.query_id, r.vec_id)
        for r in cosine_topk(emb, queries, k=10, exclude_self=True).collect()
    }
    raw = ivf_pq_topk(idx, queries, cents, cb, k=10, nprobe=8, exclude_self=True)
    raw_recall = len({(r.query_id, r.vec_id) for r in raw.collect()} & exact) / len(exact)
    from meta_morph_etl_databricks_spark.operators.quantize import auto_rerank_factor

    assert auto_rerank_factor(10) == 50 and auto_rerank_factor(200) == 5
    rr = ivf_pq_topk_rerank(
        idx, queries, cents, cb, emb, k=10, nprobe=8, rerank_factor=5, exclude_self=True
    )
    got = rr.collect()
    assert all(len([r for r in got if r.query_id == q]) == 10 for q in (0, 1, 2))
    rr_recall = len({(r.query_id, r.vec_id) for r in got} & exact) / len(exact)
    assert rr_recall >= 0.9
    assert rr_recall >= raw_recall
    # the re-ranked scores are EXACT float cosines: every kept row's
    # score matches brute force bit-for-bit (same kernel, same rounding)
    brute = {
        (r.query_id, r.vec_id): r.cosine_sim
        for r in cosine_topk(emb, queries, k=200, exclude_self=True).collect()
    }
    for r in got:
        assert brute[(r.query_id, r.vec_id)] == r.cosine_sim


def test_connected_components_driver_matches_distributed(spark, monkeypatch):
    """r14 driver union-find fast path: below the edge bound the labels
    must be bit-identical to the alternating-star rounds (component =
    min id either way), including self-loop singletons and reversed/
    duplicate orientations."""
    import random

    import meta_morph_etl_databricks_spark.operators.components as C

    rng = random.Random(41)
    rows = [(rng.randrange(200), rng.randrange(200)) for _ in range(300)]
    rows += [(7, 7), (199, 199), (150, 3)]
    pairs = spark.createDataFrame(rows, "id_a long, id_b long")
    got = sorted(map(tuple, C.connected_components(pairs).collect()))
    monkeypatch.setattr(C, "_DRIVER_CC_MAX_EDGES", 0)
    want = sorted(map(tuple, C.connected_components(pairs).collect()))
    assert got == want and got


def test_dlit_renders_every_double_bit_exactly(spark):
    """The expr-string kernels interpolate doubles via similarity._dlit;
    one batch proves the rendered literal parses back to the SAME bits
    for the adversarial cases: non-finite (repr gave 'nanD' — a
    ParseException pre-fix), signed zero, subnormals, extremes, and
    shortest-repr values."""
    import math
    import struct

    from meta_morph_etl_databricks_spark.operators.similarity import _dlit
    from pyspark.sql import functions as F

    vals = [
        float("nan"), float("inf"), float("-inf"), 0.0, -0.0,
        5e-324, -5e-324, 2.2250738585072014e-308,  # subnormal / min normal
        1.7976931348623157e308, -1.7976931348623157e308,
        0.1, -0.30000000000000004, math.pi, 1e-17, 123456789.123456789,
        1.0000000000000002,  # one ulp above 1
    ]
    row = (
        spark.range(1)
        .select(F.expr("array({})".format(", ".join(_dlit(v) for v in vals))))
        .first()[0]
    )
    assert len(row) == len(vals)
    for want, got in zip(vals, row):
        assert struct.pack("<d", want) == struct.pack("<d", got), (want, got)


def test_float_kernel_string_path_matches_column_path(spark):
    """similarity.dot/norm/cosine_with_norms: the r14 F.expr fast path
    (string column refs, one py4j round trip) must agree with the
    Column-lambda form on every degenerate shape the kernels guard —
    NULL vector, empty vector, NaN/Inf component, zero norm — and on
    alias-qualified refs (`a.embedding`)."""
    from pyspark.sql import functions as F

    from meta_morph_etl_databricks_spark.operators.similarity import (
        cosine_with_norms,
        dot,
        norm,
    )

    rows = [
        (1, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),
        (2, None, [1.0, 0.0, 0.0]),
        (3, [], []),
        (4, [float("nan"), 1.0, 0.0], [1.0, 1.0, 1.0]),
        (5, [float("inf"), 1.0, 0.0], [1.0, 1.0, 1.0]),
        (6, [0.0, 0.0, 0.0], [1.0, 2.0, 3.0]),
    ]
    df = spark.createDataFrame(rows, "id long, u array<double>, v array<double>")
    base = df.select(
        "id",
        "u",
        "v",
        norm(F.col("u")).alias("nu_col"),
        norm("u").alias("nu_str"),
        dot(F.col("u"), F.col("v")).alias("d_col"),
        dot("u", "v").alias("d_str"),
    )
    both = base.select(
        "id",
        "nu_col",
        "nu_str",
        "d_col",
        "d_str",
        cosine_with_norms(F.col("u"), F.col("v"), F.col("nu_col"), F.col("nu_col")).alias("c_col"),
        cosine_with_norms("u", "v", "nu_str", "nu_str").alias("c_str"),
    )
    for r in both.collect():
        for a, b in (("nu_col", "nu_str"), ("d_col", "d_str"), ("c_col", "c_str")):
            va, vb = getattr(r, a), getattr(r, b)
            same = (va is None and vb is None) or va == vb or (va != va and vb != vb)
            assert same, (r.id, a, va, b, vb)
    # alias-qualified refs resolve through the string path
    withn = df.select("id", "u", "v", norm("u").alias("nu"), norm("v").alias("nv"))
    a, b = withn.alias("a"), withn.alias("b")
    q = a.join(b, F.col("a.id") == F.col("b.id")).select(
        F.col("a.id").alias("id"),
        cosine_with_norms("a.u", "b.v", "a.nu", "b.nv").alias("c_str"),
        cosine_with_norms(
            F.col("a.u"), F.col("b.v"), F.col("a.nu"), F.col("b.nv")
        ).alias("c_col"),
    )
    for r in q.collect():
        same = r.c_str == r.c_col or (r.c_str != r.c_str and r.c_col != r.c_col)
        assert same, (r.id, r.c_str, r.c_col)
