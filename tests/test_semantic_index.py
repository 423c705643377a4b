"""Incremental SemDeDup (the third index-store kind): assigner-tree
round-trip, serve ≡ one-shot parity across ragged splits, corrupt-row
conventions, sidecar validation, the streaming sink, and the
occupancy-drift dial.

Same bar the band/embed index kinds met in rounds 6–7: bootstrap once,
then any split of the post-bootstrap stream into increments accepts a
bit-identical set, with per-serve IO pruned to touched buckets.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from meta_morph_etl_databricks_spark.operators import index_store as ix
from meta_morph_etl_databricks_spark.operators.incremental import (
    incremental_semantic_near_dup,
    semantic_cell_index,
)
from meta_morph_etl_databricks_spark.operators.semantic import (
    kmeans_int8_tree,
    semantic_cell_assign,
    shifted_codes,
    tree_from_json,
    tree_to_json,
)

DIMS = 16
SCHEMA = "vec_id long, embedding array<double>"


def _corpus(n: int, seed: int = 7) -> list[tuple[int, list[float] | None]]:
    """Near-dup families + uniques + two corrupt rows, ids 0..n-1."""
    rng = random.Random(seed)
    base = [rng.uniform(-1, 1) for _ in range(DIMS)]
    rows: list[tuple[int, list[float] | None]] = []
    for i in range(n):
        if i == 24:
            v = None  # corrupt: NULL vector
        elif i == 31:
            v = [float("nan")] * DIMS  # corrupt: non-finite
        elif i % 4 == 0:
            v = [x * (1.0 + 0.5 * (i % 3)) for x in base]  # scaled copies: qcos 1.0
        elif i % 4 == 1:
            v = [x + rng.uniform(-0.005, 0.005) for x in base]  # near dups
        else:
            v = [rng.uniform(-1, 1) for _ in range(DIMS)]
        rows.append((i, v))
    return rows


def test_tree_roundtrip_and_assign_parity(spark):
    """tree_to_json/from_json is the identity, and routing a corpus
    through its OWN tree (flat and forced-two-level) reproduces the
    Lloyd run's final assignment bit-identically — the property that
    makes one-shot and incremental assignment one code path."""
    emb = spark.createDataFrame([r for r in _corpus(40)], SCHEMA)
    for kwargs in ({"k": 4}, {"k": 6, "flat_k_max": 2}):
        asg, _, tree = kmeans_int8_tree(shifted_codes(emb, DIMS), iters=2, **kwargs)
        assert tree is not None
        assert tree_from_json(tree_to_json(tree)) == tree
        want = {r.vec_id: r.cluster for r in asg.collect()}
        got = {
            r.vec_id: r.cell
            for r in semantic_cell_assign(shifted_codes(emb, DIMS), tree).collect()
        }
        assert got == want and len(got) == 38  # 2 corrupt rows excluded


def test_serve_matches_one_shot_across_ragged_splits(spark, tmp_path):
    """Bootstrap on the prefix, then serve the rest as 1 / 2 / 3 ragged
    increments through the PERSISTED store — identical accepted sets
    every way (fixed cells + int8 scorer + monotone ids ⇒ split
    invariance), equal to an in-memory one-shot reference built from
    the same tree."""
    rows = _corpus(60)
    emb = spark.createDataFrame(rows, SCHEMA)
    boot = emb.where("vec_id < 20")
    rest = emb.where("vec_id >= 20")
    t = 0.995

    # in-memory one-shot reference: route ALL post-bootstrap rows at
    # once, reject vs bootstrap index or vs any lower-id rest row
    path0 = str(tmp_path / "ref")
    meta0 = ix.create_semantic_index(boot, path0, k=4, iters=1, dims=DIMS)
    tree = tree_from_json(meta0["tree"])
    def cell_rows(df):
        return semantic_cell_index(df, semantic_cell_assign(shifted_codes(df, DIMS), tree))

    res = incremental_semantic_near_dup(
        rest, cell_rows(boot), cell_rows(rest), tree, threshold=t, dims=DIMS
    )
    want = sorted(r.vec_id for r in res.accepted.collect())
    assert 24 in want and 31 in want  # corrupt rows always accepted
    assert len(want) < rest.count()  # the dup families must actually reject

    for cuts in ([60], [40, 60], [27, 44, 60]):
        path = str(tmp_path / f"idx{len(cuts)}")
        ix.create_semantic_index(boot, path, k=4, iters=1, dims=DIMS)
        got: list[int] = []
        lo = 20
        for hi in cuts:
            inc = emb.where((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
            r = ix.serve_incremental_semantic_dedup(inc, path, threshold=t)
            got.extend(x.vec_id for x in r.accepted.collect())
            lo = hi
        assert sorted(got) == want, f"split {cuts} diverged"


def test_corrupt_rows_null_cell_and_pruned_invisibility(spark, tmp_path):
    """Corrupt vectors index under the NULL pfx partition (zero IO for
    every pruned serve), wrong-length vectors too, and neither ever
    rejects or is rejected."""
    path = str(tmp_path / "idx")
    boot = spark.createDataFrame(_corpus(20), SCHEMA)
    ix.create_semantic_index(boot, path, k=4, iters=1, dims=DIMS)
    inc = spark.createDataFrame(
        [(100, None), (101, [0.5] * (DIMS - 3)), (102, [0.25] * DIMS)], SCHEMA
    )
    res = ix.serve_incremental_semantic_dedup(inc, path, threshold=0.995)
    assert sorted(r.vec_id for r in res.accepted.collect()) == [100, 101, 102]
    idx = spark.read.parquet(ix.live_root(spark, path))
    nul = sorted(r.vec_id for r in idx.where(F.col("pfx").isNull()).collect())
    assert nul == [100, 101]


def test_semantic_sidecar_validation(spark, tmp_path):
    path = str(tmp_path / "idx")
    boot = spark.createDataFrame(_corpus(20), SCHEMA)
    ix.create_semantic_index(boot, path, k=4, iters=1, dims=DIMS)
    df, meta = ix.open_semantic_index(spark, path, dims=DIMS, k=4)
    assert meta["kind"] == ix.SEM_KIND and df.count() == 20
    with pytest.raises(ValueError, match="different parameters"):
        ix.open_semantic_index(spark, path, dims=DIMS + 1)
    with pytest.raises(ValueError, match="different parameters"):
        ix.open_semantic_index(spark, path, k=5)
    # kind cross-checks both ways
    with pytest.raises(ValueError, match="kind"):
        ix.open_band_index(spark, path)
    epath = str(tmp_path / "eidx")
    ix.create_embedding_index(boot, epath, dims=DIMS, n_planes=4, center=None)
    with pytest.raises(ValueError, match="kind"):
        ix.serve_incremental_semantic_dedup(boot, epath)


def test_stream_semantic_two_triggers(spark, tmp_path):
    """Streaming sink: batch 1 bootstraps (its Lloyd fixes the cells,
    its own scaled copy collapses within the batch), batch 2's copy of
    an indexed vector is rejected against the PERSISTED index, a
    redelivered batch-1 id is dropped by the seen sidecar, and a
    corrupt vector is accepted with a NULL cell."""
    from meta_morph_etl_databricks_spark.streaming.dedup import (
        stream_incremental_semantic_dedup,
    )

    rng = random.Random(11)
    base = [rng.uniform(-1, 1) for _ in range(DIMS)]
    uniq3 = [rng.uniform(-1, 1) for _ in range(DIMS)]
    uniq5 = [rng.uniform(-1, 1) for _ in range(DIMS)]

    src = tmp_path / "ssrc"
    src.mkdir()
    index_path = str(tmp_path / "sindex")
    accepted_path = str(tmp_path / "saccepted")
    ckpt = str(tmp_path / "sckpt")

    def run_once():
        stream = spark.readStream.schema(SCHEMA).parquet(str(src) + "/*")
        q = stream_incremental_semantic_dedup(
            stream,
            index_path,
            accepted_path,
            ckpt,
            threshold=0.995,
            k=2,
            dims=DIMS,
        )
        q.awaitTermination(120)

    b1 = [(1, base), (2, [x * 1.5 for x in base]), (3, uniq3)]
    spark.createDataFrame(b1, SCHEMA).write.parquet(str(src / "b1"))
    run_once()
    assert sorted(
        r.vec_id for r in spark.read.parquet(accepted_path).collect()
    ) == [1, 3]

    b2 = [
        (4, [x * 0.5 for x in base]),  # scaled copy of indexed 1 → rejected
        (5, uniq5),
        (6, None),                     # corrupt → accepted, NULL cell
        (1, base),                     # redelivered id → dropped by seen
    ]
    spark.createDataFrame(b2, SCHEMA).write.parquet(str(src / "b2"))
    run_once()
    assert sorted(
        r.vec_id for r in spark.read.parquet(accepted_path).collect()
    ) == [1, 3, 5, 6]

    idx = spark.read.parquet(ix.live_root(spark, index_path))
    assert sorted(r.vec_id for r in idx.select("vec_id").distinct().collect()) == [
        1, 2, 3, 4, 5, 6,
    ]
    assert [r.vec_id for r in idx.where(F.col("pfx").isNull()).collect()] == [6]
    meta = ix.read_index_meta(spark, index_path)
    assert meta["kind"] == ix.SEM_KIND and meta["k"] == 2 and "tree" in meta


def test_stream_semantic_restart_param_mismatch_raises(spark, tmp_path):
    from meta_morph_etl_databricks_spark.streaming.dedup import (
        stream_incremental_semantic_dedup,
    )

    src = tmp_path / "msrc"
    src.mkdir()
    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(DIMS)]) for i in range(6)]
    spark.createDataFrame(rows, SCHEMA).write.parquet(str(src / "b1"))

    def run_once(n, **kw):
        q = stream_incremental_semantic_dedup(
            spark.readStream.schema(SCHEMA).parquet(str(src) + "/*"),
            str(tmp_path / "midx"),
            str(tmp_path / "macc"),
            str(tmp_path / f"mck{n}"),
            dims=DIMS,
            **kw,
        )
        q.awaitTermination(120)

    run_once(0, k=2)  # bootstrap: sidecar written, tree fixed
    for n, bad in enumerate([{"k": 3}, {"id_col": "other_id"}], start=1):
        with pytest.raises(Exception, match="different parameters"):
            run_once(n, **bad)
    run_once(9, k=2)  # unchanged params restart cleanly (seen no-op)


def test_empty_coarse_cell_still_routable(spark, tmp_path):
    """A coarse centroid can win ZERO members in the FINAL bootstrap
    assignment yet stay routable by increments forever (round-9 advice).
    This fixture makes it happen: seed s1 sits between s0 and s2; its
    pass-1 members (s1 itself and a far perpendicular point) drag the
    updated mean to where BOTH defect in the final pass — coarse cell 1
    ends empty while its centroid stays in the tree.  The builder must
    seed the empty cell's fine level (coverage guarantee) so an
    increment landing there gets a real cell and dedups, instead of
    NULL-celling and being silently accepted forever.

    The anchor third dimension pins quantize_int8's per-vector scale at
    exactly 1/127, so embedding (u1-127, u2-127, -127)/127 codes to the
    designed integer point (u1, u2, 0) in shifted-u space."""

    def vec(u1, u2):
        return [(u1 - 127) / 127.0, (u2 - 127) / 127.0, -1.0]

    from meta_morph_etl_databricks_spark.operators.semantic import _tree_leaf_cents

    pts = [(0, vec(0, 0)), (1, vec(15, 0)), (2, vec(40, 0)), (3, vec(15, 40))]
    pts += [(4 + i, vec(28, 30)) for i in range(12)]
    emb = spark.createDataFrame(pts, SCHEMA)
    asg, _, tree = kmeans_int8_tree(shifted_codes(emb, 3), k=7, iters=1, flat_k_max=3)
    assert tree[0] == "two"
    _, coarse, k2, cents2 = tree
    # the hole is REAL on this fixture: coarse cell 1 has no final member
    assert 1 not in {r.cluster // k2 for r in asg.collect()}
    # ...and the coverage guarantee closes it: every coarse label the
    # tree can emit has fine centroids
    assert set(cents2) == {c for c, _ in _tree_leaf_cents(coarse)}

    # end to end through the persisted store: an increment landing in
    # the empty coarse cell is indexed with a REAL cell, and its scaled
    # copy is rejected against it on the next serve
    path = str(tmp_path / "idx")
    ix.create_semantic_index(emb, path, k=7, iters=1, dims=3, flat_k_max=3)
    inc1 = spark.createDataFrame([(100, vec(15, 20))], SCHEMA)
    r1 = ix.serve_incremental_semantic_dedup(inc1, path, threshold=0.999)
    assert [r.vec_id for r in r1.accepted.collect()] == [100]
    idx = spark.read.parquet(ix.live_root(spark, path))
    assert idx.where("vec_id = 100").collect()[0].cell is not None
    inc2 = spark.createDataFrame(
        [(101, [x * 0.5 for x in vec(15, 20)])], SCHEMA  # scaled copy: qcos 1.0
    )
    r2 = ix.serve_incremental_semantic_dedup(inc2, path, threshold=0.999)
    assert r2.accepted.count() == 0


def test_serve_int8_cosine_exact_boundary(spark, tmp_path):
    """Boundary audit for the incremental-semantic SERVE path (the
    round-6 lesson applied to round 9's new policy): the serve
    thresholds the int8 cosine at exact ``t`` and the oracle replays
    the same integer kernel, so shared constants could hide shared
    bugs.  Codes are crafted to land exactly on the cut —
    [127,0,...] vs [127,0,95,...] gives qcos = 16129/(√25154·127) in
    pure IEEE doubles — and pinned three ways: the ENGINE rejects at
    threshold == qcos and accepts at the very next double, both rows
    provably share the single bootstrap cell (k=1 — the join cannot
    mask the cut), and DuckDB's replay of the integer kernel produces
    the bit-identical double."""
    import math

    dims = 16
    a = [1.0] + [0.0] * (dims - 1)
    b = [1.0, 0.0, 0.75] + [0.0] * (dims - 3)  # 0.75·127 = 95.25 → 95
    path = str(tmp_path / "idx")
    boot = spark.createDataFrame([(0, a)], SCHEMA)
    ix.create_semantic_index(boot, path, k=1, iters=1, dims=dims)
    inc = spark.createDataFrame([(1, b)], SCHEMA)

    # both in the one bootstrap cell — the cell join reaches the cut
    idx_df = ix.open_semantic_index(spark, path)[0]
    cells = {r.vec_id: r.cell for r in idx_df.collect()}
    tree = tree_from_json(ix.read_index_meta(spark, path)["tree"])
    inc_cell = semantic_cell_assign(shifted_codes(inc, dims), tree).collect()[0].cell
    assert cells[0] == inc_cell

    t = 16129.0 / (math.sqrt(25154.0) * 127.0)
    at_t = ix.serve_incremental_semantic_dedup(inc, path, threshold=t, append=False)
    assert at_t.accepted.count() == 0, "qcos == t must reject"
    above = ix.serve_incremental_semantic_dedup(
        inc, path, threshold=math.nextafter(t, 1.0), append=False
    )
    assert above.accepted.count() == 1, "qcos < t must accept"

    # cross-engine: DuckDB's replay of the integer kernel (the oracle's
    # exact expression shape) produces the bit-identical double
    import duckdb

    qa = [127] + [0] * (dims - 1)
    qb = [127, 0, 95] + [0] * (dims - 3)
    (duck_qcos,) = duckdb.connect().execute(
        "SELECT list_dot_product($a::DOUBLE[], $b::DOUBLE[]) /"
        " (sqrt(list_dot_product($a::DOUBLE[], $a::DOUBLE[]))"
        "  * sqrt(list_dot_product($b::DOUBLE[], $b::DOUBLE[])))",
        {"a": qa, "b": qb},
    ).fetchone()
    assert duck_qcos == t


def test_recluster_dial(spark, tmp_path):
    """Occupancy drift: cells only grow under serve; the dial flips
    once mean occupancy passes drift_factor × target_cell_size."""
    path = str(tmp_path / "idx")
    boot = spark.createDataFrame(
        [(i, [float(i % 5), 1.0] + [0.0] * (DIMS - 2)) for i in range(10)], SCHEMA
    )
    ix.create_semantic_index(boot, path, k=2, iters=1, dims=DIMS, target_cell_size=5)
    assert not ix.semantic_recluster_due(spark, path, drift_factor=4.0)
    inc = spark.createDataFrame(
        [(100 + i, [float(i % 7), -1.0] + [0.0] * (DIMS - 2)) for i in range(80)],
        SCHEMA,
    )
    ix.serve_incremental_semantic_dedup(inc, path, threshold=0.9999)
    assert ix.semantic_recluster_due(spark, path, drift_factor=4.0)
    with pytest.raises(ValueError, match="no semantic index"):
        ix.semantic_recluster_due(spark, str(tmp_path / "nope"))
