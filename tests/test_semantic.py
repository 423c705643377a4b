"""Semantic dedup (operators/semantic.py): integer-exact k-means +
within-cluster cosine pairs (SemDeDup).

Contracts under test:

1. the Lloyd recurrence is EXACT — a pure-Python replay of the same
   integer arithmetic produces identical assignments (this is the
   engine-independence claim the DuckDB oracle arm rides on, pinned
   here against a second independent implementation);
2. partition invariance — clusters are a pure function of the data,
   not the layout (integer sums are order-free, seeds are id-ordered);
3. density structure is respected — planted tight clusters separate,
   and pairs never cross cells;
4. the keep policy — accepted = corpus minus every higher-id end of a
   ≥ threshold pair; corrupt vectors survive with NULL cluster;
5. the auto_k dial.
"""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from meta_morph_etl_databricks_spark.operators.semantic import (
    _SCALE,
    _driver_assign_tree,
    _shifted_codes,
    assign_cells,
    auto_k,
    kmeans_int8,
    kmeans_int8_tree,
    materialize_assignment,
    semantic_cell_assign,
    semantic_dedup,
    semantic_dedup_pairs,
    shifted_codes,
)


def _pairs(emb, k, iters, threshold, dims):
    """semantic_dedup_pairs over a fresh kmeans_int8 assignment."""
    asg = materialize_assignment(kmeans_int8(emb, k, iters, dims)[0], emb, dims)
    return semantic_dedup_pairs(emb, asg, threshold)


@pytest.fixture(scope="module")
def emb(spark):
    """40 vectors in 8 dims: two planted tight clusters + scatter +
    three corrupt rows (NULL / NaN / wrong length)."""
    rng = random.Random(23)
    a = [5.0, 5.0, 5.0, 5.0, -5.0, -5.0, -5.0, -5.0]
    b = [-5.0, 5.0, -5.0, 5.0, 5.0, -5.0, 5.0, -5.0]
    rows = []
    for i in range(40):
        if i == 11:
            v = None
        elif i == 17:
            v = [float("nan")] * 8
        elif i == 29:
            v = [1.0] * 11
        elif i % 3 == 0:
            v = [x + rng.uniform(-0.2, 0.2) for x in a]
        elif i % 3 == 1:
            v = [x + rng.uniform(-0.2, 0.2) for x in b]
        else:
            v = [rng.uniform(-5, 5) for _ in range(8)]
        rows.append((i, v))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _py_codes(vecs: dict[int, list[float]]) -> dict[int, list[int]]:
    u = {}
    for i, v in sorted(vecs.items()):
        m = max(abs(x) for x in v)
        s = m / 127.0 if m > 0 else 1.0
        # Spark/DuckDB round() is half-away-from-zero; Python's is
        # banker's — replay the engines' rule
        u[i] = [int(math.floor(abs(x / s) + 0.5)) * (1 if x >= 0 else -1) + 127 for x in v]
    return u


def _py_lloyd(u: dict[int, list[int]], k: int, iters: int) -> dict[int, int]:
    """Flat Lloyd over shifted codes — seeds, surrogate argmin,
    floor-div update, final assignment."""
    seeds = sorted(u)[:k]
    cents = {cid: [_SCALE * x for x in u[seeds[cid]]] for cid in range(len(seeds))}

    def assign():
        out = {}
        for i, uv in u.items():
            best = min(
                (sum(y * y for y in mv) - 2 * _SCALE * sum(x * y for x, y in zip(uv, mv)), cid)
                for cid, mv in cents.items()
            )
            out[i] = best[1]
        return out

    for _ in range(iters):
        asg = assign()
        new = {}
        for cid in set(asg.values()):
            members = [u[i] for i, c in asg.items() if c == cid]
            new[cid] = [
                (_SCALE * sum(m[d] for m in members)) // len(members)
                for d in range(len(members[0]))
            ]
        cents = new
    return assign()


def _py_kmeans(vecs: dict[int, list[float]], k: int, iters: int) -> dict[int, int]:
    """Independent pure-Python replay of the documented recurrence:
    int8-quantize, shift +127, fixed-point seeds, surrogate argmin,
    floor-div update."""
    return _py_lloyd(_py_codes(vecs), k, iters)


def _py_dispatch(u: dict[int, list[int]], k: int, iters: int) -> dict[int, int]:
    """Replay of _kmeans_dispatch: flat ≤ 64, coarse-to-fine beyond,
    recursing on the coarse level past k = 64²."""
    if k <= 64:
        return _py_lloyd(u, k, iters)
    if k <= 64 * 64:
        k1 = max(2, math.isqrt(k - 1) + 1)
        k2 = max(2, math.ceil(k / k1))
    else:
        k2 = 64
        k1 = math.ceil(k / k2)
    a1 = _py_dispatch(u, k1, iters)
    cells: dict[int, dict[int, list[int]]] = {}
    for i, c in a1.items():
        cells.setdefault(c, {})[i] = u[i]
    out = {}
    for c1, members in cells.items():
        for i, cid in _py_lloyd(members, k2, iters).items():
            out[i] = c1 * k2 + cid
    return out


def _py_kmeans_two_level(vecs: dict[int, list[float]], k: int, iters: int) -> dict[int, int]:
    """Two-level replay: flat k1 ≈ √k coarse split, then an independent
    flat k2-way Lloyd inside each coarse cell; global id = c1·k2 + cid."""
    return _py_dispatch(_py_codes(vecs), k, iters)


def test_kmeans_matches_pure_python_replay(spark, emb):
    asg, _ = kmeans_int8(emb, k=4, iters=2, dims=8, vec_col="embedding")
    got = {r.vec_id: r.cluster for r in asg.collect()}
    valid = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in emb.collect()
        if r.embedding is not None
        and len(r.embedding) == 8
        and all(not math.isnan(x) for x in r.embedding)
    }
    want = _py_kmeans(valid, k=4, iters=2)
    assert got == want


def test_kmeans_partition_invariance(spark, emb):
    base, _ = kmeans_int8(emb, k=4, iters=1, dims=8)
    want = sorted((r.vec_id, r.cluster) for r in base.collect())
    for n in (1, 7):
        asg, _ = kmeans_int8(emb.repartition(n), k=4, iters=1, dims=8)
        assert sorted((r.vec_id, r.cluster) for r in asg.collect()) == want


def test_planted_clusters_separate_and_pairs_stay_within(spark, emb):
    """With k=2 the two planted antipodal clusters must land in
    different cells, and every emitted pair is within one cell (the
    planted members are ±0.2 noise around ±5 bases → within-cluster
    cosine ≈ 1, cross ≈ -1)."""
    asg, _ = kmeans_int8(emb, k=2, iters=2, dims=8)
    cl = {r.vec_id: r.cluster for r in asg.collect()}
    a_ids = [i for i in cl if i % 3 == 0]
    b_ids = [i for i in cl if i % 3 == 1]
    assert len({cl[i] for i in a_ids}) == 1
    assert len({cl[i] for i in b_ids}) == 1
    assert cl[a_ids[0]] != cl[b_ids[0]]

    pairs = _pairs(emb, k=2, iters=2, threshold=0.99, dims=8).collect()
    assert pairs  # the planted near-dups are found
    for p in pairs:
        assert cl[p.id_a] == cl[p.id_b]
        assert p.id_a < p.id_b and p.cosine_sim >= 0.99


def test_semantic_dedup_keep_policy_and_corrupt_rows(spark, emb):
    """accepted = corpus minus the higher-id end of every pair; corrupt
    vectors (NULL / NaN / wrong-length) are never paired, always
    survive, and carry a NULL cluster."""
    t = 0.99
    pairs = _pairs(emb, k=2, iters=1, threshold=t, dims=8)
    dropped = {r.id_b for r in pairs.collect()}
    kept = semantic_dedup(emb, k=2, iters=1, threshold=t, dims=8)
    got = {r.vec_id: r.cluster for r in kept.collect()}
    assert set(got) == set(range(40)) - dropped
    for corrupt in (11, 17, 29):
        assert corrupt in got and got[corrupt] is None
    # non-corrupt survivors all carry a real cluster id
    assert all(c is not None for i, c in got.items() if i not in (11, 17, 29))


def test_empty_and_all_corrupt_corpus(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    asg, cents = kmeans_int8(empty, k=4, iters=1, dims=8)
    assert asg.count() == 0 and cents == []
    assert semantic_dedup(empty, k=4, dims=8).count() == 0

    corrupt = spark.createDataFrame(
        [(1, None), (2, [float("nan")] * 8)], "vec_id long, embedding array<double>"
    )
    asg2, cents2 = kmeans_int8(corrupt, k=4, iters=1, dims=8)
    assert asg2.count() == 0 and cents2 == []
    out = {r.vec_id: r.cluster for r in semantic_dedup(corrupt, k=4, dims=8).collect()}
    assert out == {1: None, 2: None}  # corrupt rows all survive


def test_auto_k_rule():
    assert auto_k(0) == 2  # floor
    assert auto_k(300_000, target_cluster_size=300) == 1000
    # 10x corpus → 10x cells → constant per-cell population (the flat
    # quadratic-term argument)
    assert auto_k(3_000_000, target_cluster_size=300) == 10_000
    assert auto_k(10**12) == 1 << 17  # cap


def test_auto_k_end_to_end_occupancy_and_pinned_parity(spark):
    """The production dial end to end (round-8 verdict task 7): an
    auto-k run (k=None) over a corpus sized for k=10 must (a) land
    per-cell occupancy near the target, and (b) produce EXACTLY the
    assignment and pairs of a pinned-k run at the k the dial computes —
    the k=None path adds only the count, never a different route."""
    import random
    from collections import Counter

    rng = random.Random(13)
    base = [rng.uniform(-1, 1) for _ in range(8)]
    rows = []
    for i in range(3000):
        if i % 10 == 9:  # plant near-dup families so pairs exist
            v = [x + rng.uniform(-0.002, 0.002) for x in base]
        else:
            v = [rng.uniform(-1, 1) for _ in range(8)]
        rows.append((i, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    target = 300  # auto_k default → k = ceil(3000/300) = 10
    asg_auto, _ = kmeans_int8(emb, k=None, iters=1, dims=8)
    got_auto = {r.vec_id: r.cluster for r in asg_auto.collect()}
    occ = Counter(got_auto.values())
    realized = len(occ)
    assert realized >= 5  # the dial must actually produce ~k cells
    mean_occ = 3000 / realized
    assert target / 2 <= mean_occ <= 3 * target, f"mean occupancy {mean_occ}"

    asg_pin, _ = kmeans_int8(emb, k=10, iters=1, dims=8)
    assert {r.vec_id: r.cluster for r in asg_pin.collect()} == got_auto

    pairs_auto = {
        (r.id_a, r.id_b)
        for r in _pairs(emb, k=None, iters=1, threshold=0.99, dims=8).collect()
    }
    pairs_pin = {
        (r.id_a, r.id_b)
        for r in _pairs(emb, k=10, iters=1, threshold=0.99, dims=8).collect()
    }
    assert pairs_auto and pairs_auto == pairs_pin  # the family must pair


def test_two_level_matches_pure_python_replay(spark, emb):
    """k > 64 routes through the coarse-to-fine decomposition — pinned
    against an independent pure-Python replay of the same two-level
    recurrence (coarse flat Lloyd, per-cell seeds, per-cell Lloyd,
    c1·k2 + cid labels)."""
    k = 66  # > _FLAT_K_MAX → two-level (k1=9, k2=8 over 37 vectors)
    asg, cents = kmeans_int8(emb, k=k, iters=2, dims=8)
    got = {r.vec_id: r.cluster for r in asg.collect()}
    valid = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in emb.collect()
        if r.embedding is not None
        and len(r.embedding) == 8
        and all(not math.isnan(x) for x in r.embedding)
    }
    want = _py_kmeans_two_level(valid, k=k, iters=2)
    assert got == want
    # returned centroid labels cover exactly the assigned clusters
    assert {c for c in got.values()} <= {cid for cid, _ in cents}


def test_two_level_partition_invariance_and_nesting(spark, emb):
    base, _ = kmeans_int8(emb, k=66, iters=1, dims=8)
    want = sorted((r.vec_id, r.cluster) for r in base.collect())
    asg, _ = kmeans_int8(emb.repartition(5), k=66, iters=1, dims=8)
    assert sorted((r.vec_id, r.cluster) for r in asg.collect()) == want
    # fine cells nest inside the coarse split: cluster // k2 IS the
    # coarse cell, so two rows sharing a fine cluster share its cell
    k2 = 8
    coarse = {r.vec_id: r.cluster // k2 for r in base.collect()}
    valid = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in emb.collect()
        if r.embedding is not None
        and len(r.embedding) == 8
        and all(not math.isnan(x) for x in r.embedding)
    }
    a1 = _py_lloyd(_py_codes(valid), 9, 1)
    assert coarse == a1


def test_two_level_pairs_still_contract(spark, emb):
    """semantic_dedup_pairs through the two-level path keeps the pair
    contract: id_a < id_b, cosine ≥ t, both ends in one (fine) cell."""
    pairs = _pairs(emb, k=66, iters=1, threshold=0.99, dims=8)
    asg, _ = kmeans_int8(emb, k=66, iters=1, dims=8)
    cl = {r.vec_id: r.cluster for r in asg.collect()}
    rows = pairs.collect()
    assert rows  # 37 vectors in ~66 requested cells still co-locate planted dups
    for p in rows:
        assert p.id_a < p.id_b and p.cosine_sim >= 0.99
        assert cl[p.id_a] == cl[p.id_b]


def test_deep_k_recursion_matches_replay(spark, emb):
    """k > 64² forces the coarse level itself past the flat kernel's
    column knee — the dispatch must RECURSE (round-8 review finding:
    the unclamped k1 re-entered the measured never-finishes regime at
    auto_k ≥ 4097).  Pinned against the recursive pure-Python replay."""
    k = 5000  # k2=64, k1=79 → coarse recurses (9×9)
    asg, cents = kmeans_int8(emb, k=k, iters=1, dims=8)
    got = {r.vec_id: r.cluster for r in asg.collect()}
    valid = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in emb.collect()
        if r.embedding is not None
        and len(r.embedding) == 8
        and all(not math.isnan(x) for x in r.embedding)
    }
    want = _py_kmeans_two_level(valid, k=k, iters=1)
    assert got == want
    assert {c for c in got.values()} <= {cid for cid, _ in cents}


def test_oracle_sql_corrupt_row_parity(spark, emb):
    """The registry arm's DuckDB replay must agree with the Spark
    operator even when the corpus carries corrupt vectors — today's
    generator plants none, so this pins the val_vecs exclusion
    (round-8 review: a NULL embedding would otherwise rank-1-assign to
    cid 0 through all-NULL order keys; NaN would error the CAST;
    wrong-length would error list_dot_product; a NULL ELEMENT would
    split the engines — Spark's conditional sums skip it, DuckDB's
    list_dot_product NULLs the key).  Runs the REAL _sem_ctes SQL over
    the 40-row fixture (3 corrupt rows) PLUS two planted NULL-element
    rows in DuckDB and compares pair-for-pair with
    semantic_dedup_pairs."""
    import duckdb

    from meta_morph_etl_databricks_spark.plans.ml_queries import _COS, _sem_ctes

    k, iters, dims, t = 4, 1, 8, 0.18
    extra = spark.createDataFrame(
        [
            (50, [1.0, None, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]),  # partial NULL
            (51, [None] * 8),                                  # all-NULL elems
        ],
        "vec_id long, embedding array<double>",
    )
    emb = emb.unionByName(extra)
    got = sorted(
        (r.id_a, r.id_b, r.cosine_sim)
        for r in _pairs(emb, k=k, iters=iters, threshold=t, dims=dims).collect()
    )
    assert not any(50 in (a, b) or 51 in (a, b) for a, b, _ in got)

    def lit(v):
        if v is None:
            return "NULL"
        vals = ", ".join(
            "NULL" if x is None else ("'nan'::DOUBLE" if x != x else repr(float(x)))
            for x in v
        )
        return f"[{vals}]::DOUBLE[]"

    values = ",\n".join(f"({r.vec_id}, {lit(r.embedding)})" for r in emb.collect())
    sql = f"""
    WITH vecs AS (SELECT * FROM (VALUES {values}) AS t(vec_id, v)),
    {_sem_ctes(k, iters, dims)}
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, ROUND({_COS}, 6) AS cosine_sim
    FROM memb a JOIN memb b ON a.cl = b.cl AND a.vec_id < b.vec_id
    WHERE ROUND({_COS}, 6) >= {t}
    ORDER BY id_a, id_b
    """
    con = duckdb.connect()
    want = [(a, b, c) for a, b, c in con.sql(sql).fetchall()]
    assert got == want and got  # non-empty, bit-identical through corruption


def test_driver_lloyd_matches_distributed(spark, emb, monkeypatch):
    """r14 driver-side Lloyd fast path: below _DRIVER_LLOYD_MAX_ROWS the
    dispatch replays the recurrence in pure Python — assignment, cents,
    and the assigner tree must be BIT-IDENTICAL to the distributed
    kernels, on both the flat and the forced two-level path."""
    import meta_morph_etl_databricks_spark.operators.semantic as sem
    from meta_morph_etl_databricks_spark.operators.semantic import (
        kmeans_int8_tree,
        tree_to_json,
    )

    for kwargs in (
        {"k": 4, "iters": 2},
        {"k": 7, "iters": 2, "flat_k_max": 3},  # forced two-level
        {"k": 4100, "iters": 1},  # k > 64² → coarse recursion
    ):
        asg_d, cents_d, tree_d = kmeans_int8_tree(shifted_codes(emb, 8), **kwargs)
        monkeypatch.setattr(sem, "_DRIVER_LLOYD_MAX_ROWS", 0)
        asg_x, cents_x, tree_x = kmeans_int8_tree(shifted_codes(emb, 8), **kwargs)
        monkeypatch.setattr(sem, "_DRIVER_LLOYD_MAX_ROWS", 4096)
        assert sorted(map(tuple, asg_d.collect())) == sorted(map(tuple, asg_x.collect()))
        assert cents_d == cents_x
        assert tree_to_json(tree_d) == tree_to_json(tree_x)
        assert asg_d.schema == asg_x.schema


def test_driver_lloyd_empty_and_corrupt_only(spark, monkeypatch):
    """Driver path mirrors the distributed path's drained-corpus
    contract: empty assignment frame, [] cents, None tree."""
    from meta_morph_etl_databricks_spark.operators.semantic import kmeans_int8_tree

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    corrupt = spark.createDataFrame(
        [(1, None), (2, [float("nan")] * 8)], "vec_id long, embedding array<double>"
    )
    for df in (empty, corrupt):
        asg, cents, tree = kmeans_int8_tree(shifted_codes(df, 8), k=4, iters=1)
        assert asg.count() == 0 and cents == [] and tree is None


def test_driver_local_assign_skips_checkpoint(spark, emb, monkeypatch):
    """r14 finding 19: a driver-replayed assignment is marked
    driver-local and materialize_assignment skips its materialization /
    emptiness jobs for it — the pair set must equal the distributed
    (checkpointed) path's, and the corrupt-corpus diagnostic must
    still ride the UNMARKED empty-frame path."""
    import meta_morph_etl_databricks_spark.operators.semantic as sem

    asg = kmeans_int8(emb, k=4, iters=2, dims=8)[0]
    assert getattr(asg, "_sg_driver_local", False)  # marked literal
    got = sorted(
        map(tuple, _pairs(emb, k=4, iters=2, threshold=0.8, dims=8).collect())
    )
    monkeypatch.setattr(sem, "_DRIVER_LLOYD_MAX_ROWS", 0)
    asg_x = kmeans_int8(emb, k=4, iters=2, dims=8)[0]
    assert not getattr(asg_x, "_sg_driver_local", False)
    want = sorted(
        map(tuple, _pairs(emb, k=4, iters=2, threshold=0.8, dims=8).collect())
    )
    assert got == want and got  # non-empty, path-identical
    # corrupt-only corpus: assignment is the empty frame (never marked),
    # so the dims-mismatch diagnostic still raises through isEmpty()
    monkeypatch.setattr(sem, "_DRIVER_LLOYD_MAX_ROWS", 4096)
    wrong = spark.createDataFrame(
        [(1, [1.0] * 5), (2, [2.0] * 5)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="dims"):
        _pairs(wrong, k=2, iters=1, threshold=0.8, dims=8)


def test_codes_slice_matches_self_computed(spark, emb):
    """r14 finding 20: handing kmeans/semantic_cell_assign an id-slice of
    ONE materialized full-corpus shifted-codes pass must be
    bit-identical to each consumer building its own chain — quantize+
    shift is a pure per-row map, so slicing commutes with it."""
    from meta_morph_etl_databricks_spark.operators.incremental import (
        semantic_cell_index,
    )
    from meta_morph_etl_databricks_spark.operators.semantic import tree_to_json

    codes_all = shifted_codes(emb, 8)
    half = F.col("vec_id") % 2 == 0
    asg_s, cents_s, tree_s = kmeans_int8_tree(codes_all.where(half), k=4, iters=2)
    asg_o, cents_o, tree_o = kmeans_int8_tree(
        shifted_codes(emb.filter(half), 8), k=4, iters=2
    )
    assert sorted(map(tuple, asg_s.collect())) == sorted(map(tuple, asg_o.collect()))
    assert cents_s == cents_o and tree_to_json(tree_s) == tree_to_json(tree_o)
    rows_s = semantic_cell_index(
        emb.filter(~half), semantic_cell_assign(codes_all.where(~half), tree_s)
    )
    rows_o = semantic_cell_index(
        emb.filter(~half), semantic_cell_assign(shifted_codes(emb.filter(~half), 8), tree_o)
    )
    assert sorted(map(tuple, rows_s.collect())) == sorted(map(tuple, rows_o.collect()))
    # corrupt rows still ride the sliced index with NULL cell (the q_vec
    # payload quantizes the embeddings themselves, not the codes slice)
    corrupt_ids = {r[0] for r in rows_s.where(F.col("cell").isNull()).collect()}
    assert corrupt_ids  # the emb fixture plants corrupt rows


def _collect_u(codes) -> dict[int, list[int]]:
    return {r[0]: [int(x) for x in r[1]] for r in codes.collect()}


def test_driver_assign_tree_matches_distributed(spark, emb):
    """_driver_assign_tree must reproduce assign_cells bit-identically on
    flat AND two-level trees — including the drop semantics for a row
    whose coarse cell has no cents2 entry (the distributed inner join)."""
    codes = _shifted_codes(emb, 8, "vec_id", "embedding").localCheckpoint()
    u = _collect_u(codes)
    for kwargs in ({"k": 4, "iters": 2}, {"k": 7, "iters": 2, "flat_k_max": 3}):
        _, _, tree = kmeans_int8_tree(shifted_codes(emb, 8), **kwargs)
        want = {
            r[0]: r[1] for r in assign_cells(codes, tree, "vec_id").collect()
        }
        got = _driver_assign_tree(u, tree)
        assert got == want and got
    # drop semantics: strip one occupied coarse cell's fine centroids
    # from a two-level tree — both paths must drop exactly those rows
    _, _, tree = kmeans_int8_tree(shifted_codes(emb, 8), k=7, iters=2, flat_k_max=3)
    kind, coarse, k2, cents2 = tree
    assert kind == "two" and len(cents2) > 1
    pruned = dict(cents2)
    victim = sorted(pruned)[0]
    del pruned[victim]
    tree_pruned = ("two", coarse, k2, pruned)
    want = {
        r[0]: r[1] for r in assign_cells(codes, tree_pruned, "vec_id").collect()
    }
    got = _driver_assign_tree(u, tree_pruned)
    assert got == want
    assert len(got) < len(u)  # the victim cell's rows actually dropped


def test_full_corpus_rows_slices_match_per_arm(spark, emb):
    """The q_embed one-collect path builds ONE (id, cell, q_vec, q_norm)
    pass and slices it per arm; each slice must equal the
    semantic_cell_index frame the r14 path built for that arm — boot
    slice included (tree routing reproduces the Lloyd's final
    assignment), corrupt rows included (NULL cell via the left join)."""
    from meta_morph_etl_databricks_spark.operators.incremental import (
        semantic_cell_index,
    )
    from meta_morph_etl_databricks_spark.operators.quantize import (
        qnorm,
        quantize_int8,
    )
    from meta_morph_etl_databricks_spark.plans.ml_queries import (
        _literal_cells_schema,
    )

    codes = _shifted_codes(emb, 8, "vec_id", "embedding").localCheckpoint()
    u = _collect_u(codes)
    boot_p = F.col("vec_id") < 20
    _, _, tree = kmeans_int8_tree(codes.where(boot_p), k=4, iters=2)
    cells_df = spark.createDataFrame(
        sorted(_driver_assign_tree(u, tree).items()),
        _literal_cells_schema(codes, "cell"),
    )
    full_rows = (
        quantize_int8(emb, "embedding")
        .join(F.broadcast(cells_df), "vec_id", "left")
        .select(
            "vec_id",
            F.col("cell").cast("int").alias("cell"),
            "q_vec",
            qnorm("q_vec").alias("q_norm"),
        )
    )

    def key(rows):
        return sorted(
            (r["vec_id"], r["cell"], tuple(r["q_vec"] or []), r["q_norm"])
            for r in rows
        )

    for lo, hi in ((0, 20), (20, 30), (30, 1 << 40)):
        arm_p = (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
        arm = emb.filter(arm_p)
        want = semantic_cell_index(arm, semantic_cell_assign(shifted_codes(arm, 8), tree))
        want = want.collect()
        got = full_rows.where(arm_p).collect()
        assert key(got) == key(want) and got
    # the corrupt rows ride with NULL cells, exactly like the r14 frames
    nulls = {r["vec_id"] for r in full_rows.where("cell IS NULL").collect()}
    assert nulls == {11, 17, 29}


def test_cached_frame_is_keyed_by_session(spark):
    """``spark.newSession()`` shares the applicationId; the centroid
    frame cache must still hand each session a frame of its own."""
    from meta_morph_etl_databricks_spark.operators.semantic import _cached_frame

    content = [(0, 0, 1), (0, 1, 2)]
    schema = "cid int, _pos int, _y long"
    s2 = spark.newSession()
    assert _cached_frame(spark, content, schema).sparkSession is spark
    assert _cached_frame(s2, content, schema).sparkSession is s2
    assert _cached_frame(spark, content, schema).sparkSession is spark
