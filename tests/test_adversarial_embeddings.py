"""Adversarial embedding-content hardening: NULL, empty, wrong-dim,
zero, NaN, and Inf vectors through the similarity/quantization stack.

A 100 TB embedding dump WILL contain corrupt rows (truncated writes,
overflowed encoders emitting NaN/Inf).  Spark's NaN semantics make
them actively dangerous, not just noisy: NaN orders ABOVE every double,
so one NaN vector outranks every true match in a top-k window, leaks
through `sim >= t` filters, and under ANSI mode a NaN→tinyint cast
kills the whole encode job.  These tests pin the containment contract:
corrupt vectors score 0.0 / encode NULL; they never crash a job and
never reach a result set.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

ESCHEMA = "vec_id long, embedding array<double>"

ROWS = [
    (0, None),
    (1, []),
    (2, [0.0] * 8),            # zero vector
    (3, [1.0, 2.0]),           # wrong dimensionality
    (4, [float("nan")] * 8),   # NaN vector
    (5, [1.0] * 8),
    (6, [1.0] * 8),            # dup of 5
    (7, [-1.0] * 8),
    (8, [float("inf")] + [1.0] * 7),  # Inf component
]


@pytest.fixture(scope="module")
def adv_emb(spark):
    return spark.createDataFrame(ROWS, "vec_id long, embedding array<double>")


@pytest.fixture(scope="module")
def adv_queries(adv_emb):
    return adv_emb.filter("vec_id IN (5, 6, 7)").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def _no_poison(rows):
    for r in rows:
        assert r["cosine_sim"] is not None and not math.isnan(r["cosine_sim"])


def test_cosine_topk_contains_corrupt_vectors(spark, adv_emb, adv_queries):
    from meta_morph_etl_databricks_spark.operators.similarity import cosine_topk

    got = cosine_topk(adv_emb, adv_queries, k=3, exclude_self=True).collect()
    _no_poison(got)
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    # the true match ranks FIRST — a NaN row would have displaced it
    assert by_q[5][0]["vec_id"] == 6 and by_q[5][0]["cosine_sim"] == 1.0
    assert by_q[6][0]["vec_id"] == 5


def test_quantized_topk_survives_nan_inf(spark, adv_emb, adv_queries):
    from meta_morph_etl_databricks_spark.operators.quantize import (
        quantized_cosine_topk,
    )

    got = quantized_cosine_topk(adv_emb, adv_queries, k=3, exclude_self=True).collect()
    _no_poison(got)  # and the encode job itself survived ANSI casts


def test_ivf_skips_corrupt_seeds_and_scores_clean(spark, adv_emb, adv_queries):
    from meta_morph_etl_databricks_spark.operators.similarity import (
        ivf_centroids,
        ivf_topk,
    )

    cents = ivf_centroids(adv_emb, k=4)
    # NULL (0), empty-is-finite but zero-norm (1 kept: no NaN/Inf), NaN
    # (4) and Inf (8) handling: NULL/NaN/Inf never become centroids
    assert all(cid not in (0, 4, 8) for cid, _ in cents)
    got = ivf_topk(adv_emb, adv_queries, cents, k=3, nprobe=2, exclude_self=True).collect()
    _no_poison(got)


def test_lsh_pairs_threshold_holds_under_nan(spark, adv_emb):
    from meta_morph_etl_databricks_spark.operators.similarity import lsh_bucketed_pairs

    got = lsh_bucketed_pairs(adv_emb, n_planes=4, dims=8, threshold=0.5)
    rows = got.collect()
    _no_poison(rows)
    # NaN >= 0.5 is true under Spark comparison semantics — the nanvl
    # containment is what keeps the corrupt pair out
    assert {(r["id_a"], r["id_b"]) for r in rows} == {(5, 6)}


def test_quantize_contains_interior_null_and_denormal(spark):
    """Interior-NULL elements join the corrupt class at the quantizer
    ROOT (they previously coded non-NULL-with-a-NULL-element, seeding
    int(None) codebook crashes and fabricated centroid-0 PQ codes), and
    denormal-magnitude vectors take the zero-code arm instead of
    overflowing the ANSI tinyint cast."""
    from meta_morph_etl_databricks_spark.operators.quantize import quantize_int8

    emb = spark.createDataFrame(
        [
            (0, [0.5, None, 1.0, 2.0]),        # interior NULL
            (1, [1e-310, -1e-312, 0.0, 0.0]),  # denormal magnitudes
            (2, [1.0, -2.0, 0.5, 0.25]),       # healthy
            (3, None),                          # fully NULL
        ],
        ESCHEMA,
    )
    rows = {r.vec_id: (r.q_vec, r.q_scale) for r in quantize_int8(emb).collect()}
    assert rows[0] == (None, None)            # contained at the root
    assert rows[1] == ([0, 0, 0, 0], 1.0)     # zero at int8 resolution
    assert rows[2][0] is not None and max(abs(v) for v in rows[2][0]) == 127
    assert rows[3] == (None, None)


def test_pq_paths_survive_stored_null_element_codes(spark):
    """Pre-fix indexes can hold NULL-element int8 codes on disk: the
    codebook trainer must skip them as seeds (int(None) killed the
    driver) and pq_encode must emit NULL, not a fabricated centroid-0
    code with a positive norm that outranks true neighbors."""
    from meta_morph_etl_databricks_spark.operators.quantize import (
        pq_codebooks_from_codes,
        pq_encode,
    )

    codes = spark.createDataFrame(
        [(0, [1, None, 3, 4]), (1, [1, 2, 3, 4]), (2, [5, 6, 7, 8])],
        "vec_id long, q_vec array<tinyint>",
    )
    books = pq_codebooks_from_codes(codes, m=2, ksub=2)  # would crash before
    assert len(books) == 2 and all(len(b) == 2 for b in books)
    enc = {r.vec_id: (r.pq_code, r.pq_norm_sq) for r in pq_encode(codes, books).collect()}
    assert enc[0] == (None, None)  # NULL, not centroid-0 fabrication
    assert enc[1][0] is not None and enc[1][1] is not None
