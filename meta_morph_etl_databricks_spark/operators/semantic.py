"""Semantic deduplication (SemDeDup, Abbas et al. 2023,
arXiv:2303.09540): cluster the embedding corpus with k-means, then
score cosine only WITHIN clusters and drop near-duplicates — the
curation step that removes *semantically* redundant documents, where
MinHash/SimHash (lexical) and sign-LSH (random partitions) both miss:
k-means cells follow the corpus's actual density, so paraphrases land
in the same cell even when no hyperplane bucket or shingle overlap
would pair them.

Scale shape — identical cost profile to the other dedup families:

- clustering is ``iters`` passes of (broadcast-join the k centroids,
  one hash aggregate per pass) — the narrow-explode kernel from
  ``similarity._assign_scored``: the shuffle carries one row per
  vector, never the vector itself;
- centroid updates are a (cluster, dim) grouped integer sum — k·d rows
  collected to the driver (bounded: 16×64 here; a 100k-cluster corpus
  collects 6.4M ints once per iteration, still driver-trivial);
- pair scoring is an equi-join on cluster id: O(Σ per-cluster n²)
  instead of O(n²).  Size ``k`` to the corpus (``auto_k``) so the
  per-cluster population — and with it the quadratic term — stays
  constant as the corpus grows; the registry arms pin small k values
  (semantic2: k=12 forced two-level; sem_inc/retract: k=8 bootstrap)
  so their oracles stay in lockstep.
- large k (what auto_k produces at real corpus sizes) routes through a
  two-level coarse-to-fine decomposition: flat assignment is O(n·d·k)
  and k grows with the corpus, so flat auto-k SemDeDup would be
  quadratic in n — two-level is O(n·d·2√k) (measured: 200k vectors /
  667 cells cluster in one pass — ~250 s when the kernel first landed
  in r8, ~18 s after the r10 codes checkpoint — where the flat kernel
  never finished; BENCH_SCALE ``semantic_dedup`` shows time tracking
  pair OUTPUT, never n²).

Exactness contract (what makes this oracle-checkable where MLlib
KMeans is not): Lloyd runs entirely in INTEGER arithmetic over the
int8 codes (:func:`~.quantize.quantize_int8`), so every engine that
implements the same recurrence produces bit-identical clusters —
floating-point k-means is order-sensitive in the centroid sums and
diverges across engines in the last ulp, flipping boundary
assignments.  The recurrence:

- ``u = q + 127`` — shift codes to [0, 254] so every later division is
  on nonnegative ints (DuckDB ``//`` floors, Spark ``div`` truncates
  toward zero; they agree only for nonnegative operands);
- centroids live in fixed point at ``scale=1024``: seeds are
  ``1024·u`` of the k lowest-id vectors, updates are
  ``(1024·sum) div count`` — exact integer division, no fp mean;
- assignment minimizes ``‖1024·u − m‖²``, compared via the monotone
  surrogate ``‖m‖² − 2048·⟨u, m⟩`` (the ``‖1024·u‖²`` term is constant
  per vector and cancels from the argmin).  Bounds: ``‖m‖² ≤
  64·(254·1024)² < 2^53`` and ``2048·⟨u,m⟩ ≤ 2^44`` — exact in int64
  AND in the double lane DuckDB routes list_dot_product through, for
  ANY corpus size (nothing here grows with n);
- ties break to the smallest cluster id; empty clusters drop out of
  the update (both engines derive them from the same assignment, so
  they drop identically).

Reference parity: the reference has no semantic-dedup surface; this
extends its ETL model with the embedding-curation op a training-data
pipeline needs (SURVEY.md training-pipeline mandate, same family as
operators/dedup.py and operators/similarity.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..localrel import literal_frame
from ..session_cache import session_cached
from .quantize import quantize_int8
from .similarity import cosine_with_norms, norm

_SCALE = 1024


def auto_k(n_rows: int, target_cluster_size: int = 300, floor: int = 2, cap: int = 1 << 17) -> int:
    """Cluster-count dial: k = rows / target, clamped.  Constant
    per-cluster population keeps the within-cluster quadratic scoring
    term flat as the corpus grows — the same argument as
    ``index_store.auto_index_buckets``."""
    import math

    return max(floor, min(cap, math.ceil(max(n_rows, 1) / target_cluster_size)))


def _shifted_codes(
    embeddings: DataFrame, dims: int, id_col: str, vec_col: str
) -> DataFrame:
    """(id, u) with ``u = int8code + 127 ∈ [0, 254]`` as array<long>.
    Corrupt vectors (NULL / non-finite / empty — NULL codes by the
    quantize contract — WRONG-LENGTH: a finite 11-dim row would
    otherwise both pollute positions ≥ dims of every centroid update
    and be scored on a truncated dot — and NULL-ELEMENT: array_max
    skips interior NULLs so the quantize probe passes, but the NULL
    rides into the code where Spark's conditional sums SKIP it and
    DuckDB's list_dot_product NULLs the whole key — divergence, or an
    int(None) crash if the row seeds) are EXCLUDED: they belong to no
    cluster and can never pair, mirroring the NULL-bucket convention of
    the LSH and incremental-index paths.

    Filter and shift are single ``F.expr`` strings (r14): this
    constructor runs 5× per q_embed_near_dup_lsh build and the
    Python-lambda HOF forms cost ~15 py4j round-trips each; the parsed
    trees (exists probe, transform shift) are identical."""
    return (
        quantize_int8(embeddings, vec_col=vec_col, out_col="_qc")
        .where(
            F.expr(
                f"_qc IS NOT NULL AND size(`{vec_col}`) = {int(dims)}"
                f" AND NOT exists(`{vec_col}`, x -> x IS NULL)"
            )
        )
        .select(
            id_col,
            F.expr("transform(_qc, x -> CAST(x AS BIGINT) + 127)").alias("_u"),
        )
    )


def shifted_codes(
    embeddings: DataFrame,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The (id, ``_u``) shifted-codes frame (:func:`_shifted_codes`) the
    codes-level kernels take — :func:`kmeans_int8_tree` and
    :func:`semantic_cell_assign` — lazily local-checkpointed (the first
    job pays it).  Every Lloyd job (seed collect, per-iteration
    assign+update, final assignment) and every tree routing pass
    explodes ``_u``, and a raw lineage re-evaluates the quantize+shift
    chain UNDER the generate — the O(d²) expression-inlining cousin of
    the quantize_int8 scale trap, paid per exploded ELEMENT.  Measured
    at 196k×64 (r10): the k=654 two-level build dropped 68.5 s → 17.9 s
    with bit-identical assignments, and increment routing 12.5 s → 1.4 s
    per 4k-vector serve pass; the frame is n·(8+8d) bytes (~100 MB at
    196k), driver-free.  Quantize+shift is a per-row map, so an id-slice
    of one full-corpus frame equals the slice's own frame — a plan that
    shares codes across arms builds this once and slices it."""
    return _shifted_codes(embeddings, dims, id_col, vec_col).localCheckpoint(eager=False)


# Per-session cache of centroid DataFrames, keyed by an md5 of the
# centroid CONTENT (cryptographic — a 64-bit hash() collision would
# silently mis-assign).  Why it exists: every assignment pass ships the
# centroid table driver→executors, and that table is k·d rows — linear
# in the corpus under the constant-cell-size dial (measured: the k=667
# two-level serve spent ~1 s/pass rebuilding 43k-row frames; a
# k=66 700 index would spend ~a minute PER SERVE).  A persisted
# assigner tree is immutable, and a streaming sink serves hundreds of
# batches against the same tree — so the frames are built once
# (from an Arrow table, ~0.1 s for 43k rows) and reused for the life
# of the session.  Lloyd-loop
# callers also pass through here with per-iteration centroids: each
# iteration is a fresh key, used once — harmless, bounded by LRU
# eviction (r12 review: the old clear-everything overflow policy let
# one 32-iteration Lloyd rebuild evict the HOT persisted-tree frames
# the serve path exists to keep — the next serve batch then re-paid
# the ~1 s/pass frame build the cache was measured to save).  Held per
# session (session_cache): a frame belongs to the session it was built in.
_FRAME_CACHE_MAX = 64


def _cached_frame(spark, content, schema: str) -> DataFrame:
    import hashlib
    import json as _json

    key = (schema, hashlib.md5(_json.dumps(content, sort_keys=True).encode()).hexdigest())
    return session_cached(
        spark, "frames", key, lambda: literal_frame(spark, content, schema), _FRAME_CACHE_MAX
    )


def _assign_int(codes: DataFrame, cents: list[tuple[int, list[int]]], id_col: str) -> DataFrame:
    """One integer assignment pass → (id, _cl).  Narrow explode +
    broadcast flat centroids + conditional integer sums in a single
    hash aggregate (see similarity._assign_scored for why this shape —
    one row per vector through the shuffle, HashAggregate not
    SortAggregate); integer sums make the fold order irrelevant, so
    this kernel is exact without the fp-accumulation-order argument the
    double kernel needs."""
    spark = codes.sparkSession
    flat = [(cid, pos, int(y)) for cid, mv in cents for pos, y in enumerate(mv)]
    flat_df = F.broadcast(
        _cached_frame(spark, flat, "cid int, _pos int, _y long")
    )
    mm = {cid: sum(y * y for y in mv) for cid, mv in cents}
    ex = codes.select(id_col, F.posexplode("_u").alias("_pos", "_x"))
    # expr strings, not per-cid Column chains: each Column op is a py4j
    # round-trip and this kernel runs once per Lloyd ITERATION, so at
    # k=64 the unrolled agg+struct lists cost seconds of pure driver
    # plan-assembly per training run (r13 serve-floor profiler).  The
    # parsed trees are identical: CASE-without-ELSE is NULL like
    # when-without-otherwise, int·long promotes to long either way.
    per = ex.join(flat_df, "_pos").groupBy(id_col).agg(
        *[
            F.expr(f"SUM(CASE WHEN cid = {cid} THEN _x * _y END) AS _d{cid}")
            for cid, _ in cents
        ]
    )
    # surrogate distance ‖m‖² − 2·scale·⟨u,m⟩ — monotone in the true
    # squared distance per vector; argmin ties to the smallest cid
    arr = ", ".join(
        f"named_struct('o', CAST({mm[cid]} AS BIGINT) - {2 * _SCALE} * _d{cid}, "
        f"'cid', {cid})"
        for cid, _ in cents
    )
    return per.select(id_col, F.expr(f"array_min(array({arr})).cid").alias("_cl"))


# ----------------------------------------------------------- assigner
# An "assigner tree" is the persistable routing structure a finished
# Lloyd run leaves behind: everything needed to place a NEW vector into
# the same cells WITHOUT replaying any Lloyd iteration.  Two node
# shapes, recursive to any depth:
#
# - ("flat", cents)                  — one _assign_int pass over ≤64
#                                      centroids;
# - ("two", coarse_tree, k2, cents2) — route through the coarse tree,
#                                      then one _grouped_assign pass
#                                      against the landed cell's ≤64
#                                      fine centroids; global label =
#                                      c1·k2 + cid.
#
# Assignment cost per vector is O(d·64·depth) with depth = ⌈log₆₄ k⌉ —
# effectively flat in the corpus size, which is what lets the semantic
# index serve increments without re-clustering (the incremental-dedup
# contract the band/embed index kinds already meet).
AssignerTree = tuple


def assign_cells(codes: DataFrame, tree: AssignerTree, id_col: str) -> DataFrame:
    """Route pre-shifted codes (``_u`` column) through an assigner tree
    → (id, ``_cl``).  For the tree a Lloyd run returns, this reproduces
    that run's FINAL assignment bit-identically (the run's last pass IS
    this routing), so one-shot and incremental assignment share one
    code path."""
    kind = tree[0]
    if kind == "flat":
        return _assign_int(codes, tree[1], id_col)
    _, coarse_tree, k2, cents2 = tree
    c1 = assign_cells(codes, coarse_tree, id_col).withColumnRenamed("_cl", "_c1")
    codes2 = codes.join(c1, id_col)
    return _grouped_assign(codes2, cents2, k2, id_col).select(
        id_col, (F.col("_c1") * k2 + F.col("_cl2")).alias("_cl")
    )


def _tree_leaf_cents(tree: AssignerTree) -> list[tuple[int, list[int]]]:
    """Every (label, fixed-point centroid) the tree can EMIT when
    routing — the coverage enumeration behind the empty-coarse-cell
    guarantee (see :func:`_kmeans_two_level`).  For a "two" node the
    labels are ``c1·k2 + cid`` over the coarse node's emittable labels
    × that cell's fine centroids."""
    if tree[0] == "flat":
        return list(tree[1])
    _, coarse, k2, cents2 = tree
    out: list[tuple[int, list[int]]] = []
    for c1, _ in _tree_leaf_cents(coarse):
        for cid, mv in cents2.get(c1, []):
            out.append((c1 * k2 + cid, mv))
    return out


def tree_to_json(tree: AssignerTree) -> dict:
    """Assigner tree → a JSON-safe dict (the ``_index_meta.json``
    sidecar representation; int dict keys become strings)."""
    if tree[0] == "flat":
        return {"kind": "flat", "cents": [[cid, mv] for cid, mv in tree[1]]}
    _, coarse, k2, cents2 = tree
    return {
        "kind": "two",
        "k2": k2,
        "coarse": tree_to_json(coarse),
        "cents2": {str(c1): [[cid, mv] for cid, mv in cl] for c1, cl in cents2.items()},
    }


def tree_from_json(obj: dict) -> AssignerTree:
    if obj["kind"] == "flat":
        return ("flat", [(int(cid), [int(x) for x in mv]) for cid, mv in obj["cents"]])
    return (
        "two",
        tree_from_json(obj["coarse"]),
        int(obj["k2"]),
        {
            int(c1): [(int(cid), [int(x) for x in mv]) for cid, mv in cl]
            for c1, cl in obj["cents2"].items()
        },
    )


def _kmeans_flat(
    codes: DataFrame, k: int, iters: int, id_col: str
) -> tuple[DataFrame | None, list[tuple[int, list[int]]], AssignerTree | None]:
    """The flat Lloyd loop over pre-shifted codes: seeds = the k
    lowest-id vectors, ``iters`` (assign → floor-div update) rounds,
    final assignment under the last centroids.  Returns (assignment
    with column ``_cl``, centroids, assigner tree); (None, [], None) on
    an empty corpus."""
    seeds = codes.orderBy(id_col).limit(k).collect()
    cents = [
        (cid, [_SCALE * int(x) for x in row["_u"]]) for cid, row in enumerate(seeds)
    ]
    for _ in range(iters):
        if not cents:
            break
        asg = _assign_int(codes, cents, id_col)
        upd = (
            codes.join(asg, id_col)
            .select("_cl", F.posexplode("_u").alias("_pos", "_x"))
            .groupBy("_cl", "_pos")
            .agg(F.sum("_x").alias("_s"), F.count(F.lit(1)).alias("_c"))
            .withColumn("_m", F.expr(f"({_SCALE} * _s) div _c"))
            .select("_cl", "_pos", "_m")
            .collect()
        )
        by_cl: dict[int, dict[int, int]] = {}
        for r in upd:
            by_cl.setdefault(r["_cl"], {})[r["_pos"]] = r["_m"]
        cents = [
            (cl, [dims[p] for p in sorted(dims)]) for cl, dims in sorted(by_cl.items())
        ]
    if not cents:
        return None, [], None
    return _assign_int(codes, cents, id_col), cents, ("flat", cents)


# the flat kernel turns k into AGGREGATE COLUMNS (k conditional sums)
# and its centroid join fans every exploded element out k ways — fine
# to ~64, catastrophic at auto_k scale (667 agg expressions defeat
# codegen; 200k×64×667 ≈ 8.5e9 join rows — measured: the kernel that
# serves 16 cells in ~1s never finished a 667-cell pass).  Past this
# knee kmeans_int8 switches to the two-level decomposition below.
_FLAT_K_MAX = 64


def _grouped_assign(
    codes2: DataFrame, cents2: dict[int, list[tuple[int, list[int]]]], k2: int, id_col: str
) -> DataFrame:
    """Per-cell assignment for the two-level path: each vector competes
    only against ITS coarse cell's k2 centroids.  Same narrow-explode /
    conditional-sum kernel as :func:`_assign_int`, but the centroid
    join is keyed (cell, pos) — the fan-out per exploded element is k2
    = √k, not k — and the per-cell ‖m‖² vector rides in on a broadcast
    k1-row frame.  Missing (cell, cid) slots (cells smaller than k2,
    dropped-empty clusters) coalesce to a +∞ sentinel so the argmin
    never selects them.  Returns (id, _c1, _cl2)."""
    spark = codes2.sparkSession
    flat = [
        (c1, cid, pos, int(y))
        for c1, cl in cents2.items()
        for cid, mv in cl
        for pos, y in enumerate(mv)
    ]
    flat_df = F.broadcast(
        _cached_frame(spark, flat, "_c1 int, cid int, _pos int, _y long")
    )
    mm_rows = []
    for c1, cl in cents2.items():
        mm = {cid: sum(y * y for y in mv) for cid, mv in cl}
        mm_rows.append(tuple([c1] + [mm.get(cid) for cid in range(k2)]))
    mm_schema = "_c1 int, " + ", ".join(f"_mm{c} long" for c in range(k2))
    mm_df = F.broadcast(
        _cached_frame(spark, mm_rows, mm_schema)
    )
    ex = codes2.select(id_col, "_c1", F.posexplode("_u").alias("_pos", "_x"))
    # expr strings for the same reason as _assign_int (see there)
    per = (
        ex.join(flat_df, ["_c1", "_pos"])
        .groupBy(id_col, "_c1")
        .agg(
            *[
                F.expr(f"SUM(CASE WHEN cid = {cid} THEN _x * _y END) AS _d{cid}")
                for cid in range(k2)
            ]
        )
        .join(mm_df, "_c1")
    )
    arr = ", ".join(
        f"named_struct('o', COALESCE(_mm{cid} - {2 * _SCALE} * _d{cid}, "
        f"CAST({1 << 62} AS BIGINT)), 'cid', {cid})"
        for cid in range(k2)
    )
    return per.select(
        id_col, "_c1", F.expr(f"array_min(array({arr})).cid").alias("_cl2")
    )


def _kmeans_two_level(
    codes: DataFrame, k: int, iters: int, id_col: str, kmax: int = _FLAT_K_MAX
) -> tuple[DataFrame | None, list[tuple[int, list[int]]], AssignerTree | None]:
    """Coarse-to-fine Lloyd for large k: k1 ≈ √k coarse cells via the
    flat kernel, then an independent k2-way Lloyd INSIDE each coarse
    cell (seeds = the cell's k2 lowest ids, same recurrence, all cells
    advanced simultaneously by one grouped job per round).  Assignment
    cost is O(n·d·(k1+k2)) = O(n·d·2√k) instead of the flat kernel's
    O(n·d·k) — the standard hierarchical trade (IVF, hierarchical
    k-means): cells are conditioned on the coarse split, slightly
    different from flat k-means cells, but every step stays integer-
    exact, deterministic, and layout-independent.  Global cluster id =
    c1·k2 + cid (sparse labels; only equality is ever used).  Driver
    state is O(k·d) ints — same bound as the flat path.

    NEITHER level may exceed ``_FLAT_K_MAX`` — each level IS a
    conditional-sum kernel and re-enters the measured never-finishes
    regime past ~64 aggregate columns.  The √k split keeps both ≤ 64
    up to k = 4096; beyond that the fine level pins k2 = 64 and the
    COARSE level recurses through :func:`_kmeans_dispatch` (k = 100k
    clusters → 64-way fine over a recursed 1563-cell coarse, which the
    isqrt branch splits 40×40) — every level stays a ≤64-column
    kernel, depth ⌈log₆₄ k⌉, assignment cost O(n·d·Σ levelᵢ) with
    every levelᵢ ≤ 64."""
    k1, k2 = _two_level_split(k, kmax)
    coarse, _, coarse_tree = _kmeans_dispatch(
        codes, k1, iters, id_col, kmax, probe_driver=False
    )
    if coarse is None:
        return None, [], None
    # one materialization of (id, cell): every level-2 round joins
    # against it; without this each of the 2·iters+1 jobs below replays
    # the whole coarse Lloyd inside its plan
    codes2 = (
        codes.join(coarse.withColumnRenamed("_cl", "_c1"), id_col).localCheckpoint(
            eager=False
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("_c1").orderBy(id_col)
    seed_rows = (
        codes2.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k2)
        .select("_c1", (F.col("_rn") - 1).alias("_cid"), "_u")
        .collect()
    )
    cents2: dict[int, list[tuple[int, list[int]]]] = {}
    for r in seed_rows:
        cents2.setdefault(r["_c1"], []).append(
            (r["_cid"], [_SCALE * int(x) for x in r["_u"]])
        )
    for _ in range(iters):
        asg = _grouped_assign(codes2, cents2, k2, id_col)
        upd = (
            codes2.join(asg.select(id_col, "_cl2"), id_col)
            .select("_c1", "_cl2", F.posexplode("_u").alias("_pos", "_x"))
            .groupBy("_c1", "_cl2", "_pos")
            .agg(F.sum("_x").alias("_s"), F.count(F.lit(1)).alias("_c"))
            .withColumn("_m", F.expr(f"({_SCALE} * _s) div _c"))
            .select("_c1", "_cl2", "_pos", "_m")
            .collect()
        )
        nxt: dict[tuple[int, int], dict[int, int]] = {}
        for r in upd:
            nxt.setdefault((r["_c1"], r["_cl2"]), {})[r["_pos"]] = r["_m"]
        cents2 = {}
        for (c1, cid), dims_ in sorted(nxt.items()):
            cents2.setdefault(c1, []).append((cid, [dims_[p] for p in sorted(dims_)]))
    # Routing-coverage guarantee (round-9 advice): a coarse centroid can
    # win ZERO members in the final bootstrap assignment (floor-rounded
    # updates move the means enough that a sandwiched centroid loses
    # everything — reachable, pinned by
    # test_empty_coarse_cell_still_routable) yet stay routable by future
    # increments through the persisted tree.  Without a cents2 entry for
    # that c1, _grouped_assign's inner join on _c1 DROPS the row and the
    # vector is silently accepted forever with a NULL cell.  Seed every
    # uncovered coarse label's fine level with the coarse centroid
    # itself (one cell, cid 0): increments landing there get label
    # c1·k2 and dedup against each other.  Bootstrap assignment is
    # untouched — no bootstrap row has _c1 = an empty coarse cell, so
    # the seeded entries never compete below.
    for _c1, _mv in _tree_leaf_cents(coarse_tree):
        if _c1 not in cents2:
            cents2[_c1] = [(0, _mv)]
    final = _grouped_assign(codes2, cents2, k2, id_col).select(
        id_col, (F.col("_c1") * k2 + F.col("_cl2")).alias("_cl")
    )
    cents = [
        (c1 * k2 + cid, mv) for c1, cl in sorted(cents2.items()) for cid, mv in cl
    ]
    return final, cents, ("two", coarse_tree, k2, cents2)


def _two_level_split(k: int, kmax: int = _FLAT_K_MAX) -> tuple[int, int]:
    """The (k1, k2) decomposition the two-level path uses for target
    cell count ``k`` under flat-kernel knee ``kmax`` — factored out so
    the oracle SQL generator derives the SAME split it replays."""
    import math

    if k <= kmax * kmax:
        k1 = max(2, math.isqrt(k - 1) + 1)
        k2 = max(2, math.ceil(k / k1))
    else:
        k2 = kmax
        k1 = math.ceil(k / k2)  # > kmax → the dispatch recurses
    return k1, k2


# r14 (guide §1.2 order-of-operations, §5 driver bounds): a Lloyd run
# over a SMALL corpus spends its wall clock on per-job fixed overhead,
# not data — each iteration is 2+ multi-stage Spark jobs (assign
# explode+join+agg, update collect), so a 200-row bootstrap pays ~20
# scheduler/plan round-trips to move a few KB.  Below this row bound
# the dispatch collects the codes ONCE (count-gated — the same bound
# the collect_small idiom enforces) and replays the EXACT integer recurrence
# driver-side — bit-identical by construction (every step is int
# arithmetic; pinned distributed-vs-driver in test_semantic.py), and
# the returned assignment becomes a literal LocalTableScan, so every
# downstream consumer (semantic_cell_index, the sem_inc/retract serve
# plans) stops re-executing the Lloyd lineage per action.  The bound
# is a DRIVER-MEMORY dial (rows·d ints, ~2 MB at the default), not a
# cluster-width tune; corpora past it run the distributed kernel
# unchanged.
_DRIVER_LLOYD_MAX_ROWS = 4096


def _mark_driver_local(df: DataFrame) -> DataFrame:
    """Mark a DataFrame as a driver-literal (parallelized) frame — plans
    as a plain ExistingRDD scan, non-empty by construction — so
    consumers skip the materialization/emptiness jobs that exist to
    avoid re-running a distributed Lloyd lineage.  The flag is an
    out-of-band Python attribute: any TRANSFORMATION silently drops it
    (safe direction — the consumer just falls back to checkpointing),
    so producers that rename/select a marked frame must re-mark through
    this helper (r14 advice: one mark/probe pair instead of scattered
    attribute pokes, so the two sides can't drift)."""
    df._sg_driver_local = True
    return df


def _is_driver_local(df: DataFrame) -> bool:
    """True iff ``df`` was marked by :func:`_mark_driver_local` (and not
    transformed since — transformations return NEW objects without the
    attribute, which is the safe fallback direction)."""
    return bool(getattr(df, "_sg_driver_local", False))


def _surrogate_argmin(U, cents: list[tuple[int, list[int]]]):
    """int64-numpy argmin of the surrogate ``‖m‖² − 2·scale·⟨u,m⟩`` over
    a PREBUILT code matrix ``U`` (one row per vector) → array of winning
    cluster ids.  The shared kernel of the driver replay paths (r14
    advice: the per-iteration ids/U rebuild inside the Lloyd loop was
    redundant conversion work — callers now build U once).  Exactness:
    u ∈ [0,254], m ∈ [0, 254·_SCALE], so ``‖m‖² ≤ 64·(254·1024)² ≈
    4.3e12`` and ``2·_SCALE·⟨u,m⟩ ≤ 8.7e12`` — far inside int64; integer
    matmul is exact.  Ties: centroids are sorted by cid first, so
    argmin's first-minimum IS the smallest cid (lexicographic
    (surrogate, cid) min, independent of the caller's cent order)."""
    import numpy as np

    by_cid = sorted(cents, key=lambda c: c[0])
    cids = np.asarray([cid for cid, _ in by_cid], dtype=np.int64)
    M = np.asarray([mv for _, mv in by_cid], dtype=np.int64)
    surr = (M * M).sum(axis=1)[None, :] - 2 * _SCALE * (U @ M.T)
    return cids[surr.argmin(axis=1)]


def _driver_assign_flat(
    u: dict[int, list[int]], cents: list[tuple[int, list[int]]]
) -> dict[int, int]:
    """Driver replay of :func:`_assign_int`: surrogate argmin
    ``‖m‖² − 2·scale·⟨u,m⟩``, ties to the smallest cid (see
    :func:`_surrogate_argmin` for the exactness/tie-break argument).

    Vectorized in int64 numpy (r14): the interpreted loops were ~1.3M
    function calls / ~115 ms per q_embed_near_dup_lsh build (scaling
    n·k·d toward the 4096-row driver bound)."""
    import numpy as np

    if not u:
        return {}
    ids = list(u)
    U = np.asarray([u[i] for i in ids], dtype=np.int64)
    best = _surrogate_argmin(U, cents)
    return {i: int(c) for i, c in zip(ids, best)}


def _driver_lloyd_flat(
    u: dict[int, list[int]], k: int, iters: int
) -> tuple[dict[int, int], list[tuple[int, list[int]]], AssignerTree | None]:
    """Driver replay of :func:`_kmeans_flat` — same seeds, argmin,
    floor-div update (codes are nonnegative, so ``//`` == SQL ``div``),
    empty-cluster drop, final assignment.  ids/U are built ONCE and
    every pass runs the array kernel directly (r14 advice — the
    dict-based wrapper rebuilt them per iteration)."""
    import numpy as np

    if not u:
        return {}, [], None
    seeds = sorted(u)[:k]
    cents = [(cid, [_SCALE * x for x in u[seeds[cid]]]) for cid in range(len(seeds))]
    ids = list(u)
    U = np.asarray([u[i] for i in ids], dtype=np.int64)
    for _ in range(iters):
        if not cents:
            break
        # vectorized grouped update — same floor-div recurrence: the
        # per-cluster integer sums are order-independent, occupied
        # labels ascend exactly like sorted(by_cl), and numpy ``//`` on
        # nonnegative int64 IS Python floor division
        labels = _surrogate_argmin(U, cents)
        occ = np.unique(labels)
        idx = np.searchsorted(occ, labels)
        sums = np.zeros((len(occ), U.shape[1]), dtype=np.int64)
        np.add.at(sums, idx, U)
        counts = np.bincount(idx, minlength=len(occ)).astype(np.int64)
        cent_mat = (_SCALE * sums) // counts[:, None]
        cents = [
            (int(cl), [int(x) for x in row]) for cl, row in zip(occ, cent_mat)
        ]
    if not cents:
        return {}, [], None
    best = _surrogate_argmin(U, cents)
    return {i: int(c) for i, c in zip(ids, best)}, cents, ("flat", cents)


def _driver_grouped_assign(
    u2: dict[int, list[int]],
    casg: dict[int, int],
    cents2: dict[int, list[tuple[int, list[int]]]],
) -> dict[int, tuple[int, int]]:
    """Driver replay of :func:`_grouped_assign`: each vector competes
    only against ITS cell's fine centroids; a cell absent from
    ``cents2`` drops the row (the inner join on ``_c1``); missing
    (cell, cid) slots are the +∞ sentinel and never win because every
    real surrogate is < 2^62.

    Vectorized per cell in int64 numpy (r14) — same exactness and
    tie-break argument as :func:`_driver_assign_flat`; the assignment
    VALUES are unchanged and no consumer depends on dict order (sums
    over members are integer-commutative, every other reader sorts)."""
    import numpy as np

    by_cell: dict[int, list[int]] = {}
    for i in u2:
        by_cell.setdefault(casg[i], []).append(i)
    out: dict[int, tuple[int, int]] = {}
    for c1, ids in by_cell.items():
        cl = cents2.get(c1)
        if not cl:
            continue
        by_cid = sorted(cl, key=lambda c: c[0])
        cids = [cid for cid, _ in by_cid]
        M = np.asarray([mv for _, mv in by_cid], dtype=np.int64)
        U = np.asarray([u2[i] for i in ids], dtype=np.int64)
        surr = (M * M).sum(axis=1)[None, :] - 2 * _SCALE * (U @ M.T)
        best = surr.argmin(axis=1)
        for i, b in zip(ids, best):
            out[i] = (c1, int(cids[b]))
    return out


def _driver_assign_tree(
    u: dict[int, list[int]], tree: AssignerTree
) -> dict[int, int]:
    """Driver replay of :func:`assign_cells`: route pre-shifted codes
    through an assigner tree → {id: cell}, bit-identical to the
    distributed routing (pinned by test_driver_assign_tree_matches_
    distributed).  Flat nodes replay :func:`_assign_int` via
    :func:`_driver_assign_flat`; "two" nodes route the coarse tree and
    replay :func:`_grouped_assign` — a row whose coarse cell is absent
    from ``cents2`` DROPS, matching the distributed inner join on
    ``_c1``.  For the tree a Lloyd run returns this reproduces that
    run's FINAL assignment (the run's last pass IS this routing), same
    contract as the distributed form."""
    kind = tree[0]
    if kind == "flat":
        return _driver_assign_flat(u, tree[1])
    _, coarse_tree, k2, cents2 = tree
    casg = _driver_assign_tree(u, coarse_tree)
    u2 = {i: uv for i, uv in u.items() if i in casg}
    fin = _driver_grouped_assign(u2, casg, cents2)
    return {i: c1 * k2 + cl2 for i, (c1, cl2) in fin.items()}


def _driver_lloyd_two_level(
    u: dict[int, list[int]], k: int, iters: int, kmax: int
) -> tuple[dict[int, int], list[tuple[int, list[int]]], AssignerTree | None]:
    """Driver replay of :func:`_kmeans_two_level` — coarse dispatch,
    per-cell k2-lowest-id seeds, simultaneous per-cell Lloyd, the
    empty-coarse-cell coverage fill, global label c1·k2 + cid."""
    k1, k2 = _two_level_split(k, kmax)
    casg, _, coarse_tree = _driver_lloyd_dispatch(u, k1, iters, kmax)
    if coarse_tree is None:
        return {}, [], None
    u2 = {i: uv for i, uv in u.items() if i in casg}
    cells: dict[int, list[int]] = {}
    for i in sorted(u2):
        cells.setdefault(casg[i], []).append(i)
    cents2: dict[int, list[tuple[int, list[int]]]] = {
        c1: [(cid, [_SCALE * x for x in u2[ids[cid]]]) for cid in range(min(k2, len(ids)))]
        for c1, ids in cells.items()
    }
    import numpy as np

    for _ in range(iters):
        asg2 = _driver_grouped_assign(u2, casg, cents2)
        nxt: dict[tuple[int, int], list[list[int]]] = {}
        for i, (c1, cl2) in asg2.items():
            nxt.setdefault((c1, cl2), []).append(u2[i])
        cents2 = {}
        for (c1, cid), members in sorted(nxt.items()):
            # int64 numpy sum — exact, order-independent, same floor div
            sums = np.asarray(members, dtype=np.int64).sum(axis=0)
            cents2.setdefault(c1, []).append(
                (cid, [int(x) for x in (_SCALE * sums) // len(members)])
            )
    for _c1, _mv in _tree_leaf_cents(coarse_tree):
        if _c1 not in cents2:
            cents2[_c1] = [(0, _mv)]
    fin = _driver_grouped_assign(u2, casg, cents2)
    final = {i: c1 * k2 + cl2 for i, (c1, cl2) in fin.items()}
    cents = [
        (c1 * k2 + cid, mv) for c1, cl in sorted(cents2.items()) for cid, mv in cl
    ]
    return final, cents, ("two", coarse_tree, k2, cents2)


def _driver_lloyd_dispatch(
    u: dict[int, list[int]], k: int, iters: int, kmax: int
) -> tuple[dict[int, int], list[tuple[int, list[int]]], AssignerTree | None]:
    if k <= kmax:
        return _driver_lloyd_flat(u, k, iters)
    return _driver_lloyd_two_level(u, k, iters, kmax)


def _kmeans_dispatch(
    codes: DataFrame,
    k: int,
    iters: int,
    id_col: str,
    kmax: int = _FLAT_K_MAX,
    probe_driver: bool = True,
) -> tuple[DataFrame | None, list[tuple[int, list[int]]], AssignerTree | None]:
    """Route by k: the flat kernel up to its measured column knee,
    coarse-to-fine beyond (recursing on the coarse level when even
    ⌈k/kmax⌉ coarse cells exceed the knee).  ``kmax`` defaults to the
    measured production knee; tests and the two-level oracle arm pass a
    small value to force the scale path at oracle-friendly k.

    ``probe_driver``: before the distributed kernels, one count() (which
    doubles as the codes-checkpoint materialization) decides whether the
    whole corpus fits the driver bound (see ``_DRIVER_LLOYD_MAX_ROWS``
    above); if so the codes are collected from the cached RDD and the
    recurrence is replayed in driver int64 numpy — bit-identical, zero
    further jobs — and the assignment returns as a literal frame.  The
    two-level path's coarse recursion passes ``False``: the probe
    already decided at the top."""
    if probe_driver and _DRIVER_LLOYD_MAX_ROWS > 0:
        # count first, collect second (r14): a limit(N+1).collect() probe
        # runs ~4 incremental CollectLimit jobs (Spark scales the scanned
        # partition set 1→4→20→all); count() is ONE full-parallel pass
        # that doubles as the lazy codes-checkpoint materialization both
        # branches want — the driver branch then collects from the cached
        # RDD, the distributed branch's Lloyd jobs re-read it.  Same
        # decision boundary: driver path iff valid rows ≤ the bound.
        if codes.count() <= _DRIVER_LLOYD_MAX_ROWS:
            rows = codes.select(id_col, "_u").collect()
            u = {r[0]: [int(x) for x in r[1]] for r in rows}
            asg_map, cents, tree = _driver_lloyd_dispatch(u, k, iters, kmax)
            if tree is None:
                return None, [], None
            from pyspark.sql.types import IntegerType, StructField, StructType

            schema = StructType(
                [
                    StructField(id_col, codes.schema[id_col].dataType),
                    StructField("_cl", IntegerType()),
                ]
            )
            # Arrow input plans a LocalTableScan; list input, an RDD scan
            asg_df = literal_frame(
                codes.sparkSession, [(i, asg_map[i]) for i in sorted(asg_map)], schema
            )
            # driver-local mark (see _mark_driver_local): non-empty by
            # construction — an empty replay returns None above
            return _mark_driver_local(asg_df), cents, tree
    if k <= kmax:
        return _kmeans_flat(codes, k, iters, id_col)
    return _kmeans_two_level(codes, k, iters, id_col, kmax)


def kmeans_int8(
    embeddings: DataFrame,
    k: int | None = 16,
    iters: int = 1,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_docs: int | None = None,
    flat_k_max: int | None = None,
) -> tuple[DataFrame, list[tuple[int, list[int]]]]:
    """Integer-exact Lloyd k-means over int8 codes.  Returns
    ``(assignment, centroids)`` — assignment is a lazy (id, cluster)
    frame under the FINAL centroids; centroids are the fixed-point
    vectors ``[(cid, [m_0..m_d])]`` after ``iters`` updates.  The
    embeddings-level entry point of :func:`kmeans_int8_tree`.

    ``k=None`` auto-sizes from ``n_docs`` (catalog stats — no scan) or
    one count() of ``embeddings`` (corrupt rows included).  Driver
    actions: 1 seed collect (k rows) + ``iters`` update collects (k·d
    ints each) — all bounded by k·d, never by the corpus.  Seeds are the
    k lowest-id valid vectors: deterministic, layout-independent, and
    the same rule the PQ/IVF codebooks use.

    k ≤ 64 runs the flat kernel (the oracle-checked recurrence); larger
    k — what auto_k produces at real corpus sizes — routes through the
    coarse-to-fine decomposition (:func:`_kmeans_two_level`, O(n·d·2√k)
    assignment; past k = 4096 the coarse level itself recurses so no
    level ever exceeds the 64-column kernel knee), because flat
    assignment cost is O(n·d·k) and k grows linearly with the corpus
    under the constant-cell-size dial.

    Label contract for k > 64: the two-level path can emit UP TO k1·k2
    ≥ k cells (k=66 → 9×8 = 72 possible) and its labels are SPARSE,
    non-contiguous ints (c1·k2 + cid) — only label EQUALITY is
    meaningful.  Callers must not treat k as an exact cluster count or
    labels as 0..k−1 (e.g. to size stratified-sampling buckets); derive
    the realized cells from the assignment itself.  ``flat_k_max``
    overrides the knee — a small value forces the two-level path at
    oracle-friendly k (the hash-gated arm and tests use it), exposing
    the same label contract at test scale.

    Driver-memory note: each update collect is k·d INTS but arrives as
    Python Row objects (~50 bytes/value) — ~3 GB transient at k=100k,
    d=64.  Anyone dialing k ≫ 100k should swap the update ``collect()``
    calls for Arrow collection (``toPandas`` on the grouped frame) or
    ``toLocalIterator``; at the k this repo's dials produce it is
    driver-trivial."""
    if k is None:
        k = auto_k(embeddings.count() if n_docs is None else n_docs)
    codes = shifted_codes(embeddings, dims, id_col, vec_col)
    return kmeans_int8_tree(codes, k, iters, id_col, flat_k_max)[:2]


def kmeans_int8_tree(
    codes: DataFrame,
    k: int,
    iters: int = 1,
    id_col: str = "vec_id",
    flat_k_max: int | None = None,
) -> tuple[DataFrame, list[tuple[int, list[int]]], AssignerTree | None]:
    """:func:`kmeans_int8` over a :func:`shifted_codes` frame, plus the
    ASSIGNER TREE — the persistable routing structure (see module
    comment above :func:`assign_cells`) that places future vectors into
    the finished run's cells without replaying Lloyd.  The semantic
    index kind (operators/index_store.create_semantic_index) serializes
    it into the metadata sidecar; increments assign through it in
    O(d·64·depth) per vector."""
    final, cents, tree = _kmeans_dispatch(
        codes, k, iters, id_col, _FLAT_K_MAX if flat_k_max is None else flat_k_max
    )
    if final is None:
        empty = codes.limit(0).select(
            F.col(id_col), F.lit(None).cast("int").alias("cluster")
        )
        return empty, [], None
    out = final.withColumnRenamed("_cl", "cluster").select(id_col, "cluster")
    if _is_driver_local(final):
        _mark_driver_local(out)  # rename/select of a literal is literal
    return out, cents, tree


def semantic_cell_assign(
    codes: DataFrame, tree: AssignerTree, id_col: str = "vec_id"
) -> DataFrame:
    """Assign NEW vectors (their :func:`shifted_codes` frame) to a
    persisted run's cells through its assigner tree → (id, ``cell``).
    Valid rows only — corrupt vectors (NULL / wrong-length /
    NULL-element / non-finite) are excluded by the codes frame exactly
    as they were from the original clustering: they belong to no cell
    and can never pair."""
    return assign_cells(codes, tree, id_col).withColumnRenamed("_cl", "cell")


def _raise_if_dims_mismatch(embeddings: DataFrame, dims: int, vec_col: str) -> None:
    """Diagnose an EMPTY assignment (r12 review): legitimate for an
    empty or all-corrupt corpus (corrupt rows survive with NULL
    cluster — the documented containment), but a corpus whose vectors
    are uniformly a DIFFERENT length than ``dims`` previously turned
    the whole dedup into an error-free no-op — every near-duplicate
    sailed through with NULL clusters and no signal.  One aggregate,
    paid only on the empty-assignment path (never on a healthy run)."""
    probe = (
        embeddings.where(F.col(vec_col).isNotNull())
        .agg(
            F.max(F.size(vec_col)).alias("mx"),
            F.max((F.size(vec_col) == dims).cast("int")).alias("any_match"),
        )
        .first()
    )
    if probe is not None and probe["mx"] is not None and not probe["any_match"]:
        raise ValueError(
            f"no vectors of length dims={dims} in the corpus (observed sizes "
            f"up to {probe['mx']}) — semantic dedup would silently accept "
            "everything; pass the corpus's actual dims"
        )


def materialize_assignment(
    assign: DataFrame,
    embeddings: DataFrame,
    dims: int = 64,
    vec_col: str = "embedding",
) -> DataFrame:
    """Make a Lloyd run's (id, cluster) ``assign`` over ``embeddings``
    ready for :func:`semantic_dedup_pairs`.  The assignment subtree
    (explode + broadcast join + k-way agg) would otherwise be COMPUTED
    TWICE by the pair self-join — and a third time by
    :func:`semantic_dedup`'s cluster join-back — so it is checkpointed
    (8·n bytes + an int; same device as q_dedup_ngram_jaccard's
    scored-pair checkpoint before the components rounds), and an empty
    one is diagnosed (:func:`_raise_if_dims_mismatch`).  A DRIVER-LOCAL
    assignment (the _kmeans_dispatch small-corpus replay) is already
    literal driver data and non-empty by construction, so the checkpoint
    job AND the emptiness probe would be two pure-waste Spark jobs (r14,
    guide §1.2) — it is returned as is."""
    if _is_driver_local(assign):
        return assign
    assign = assign.localCheckpoint(eager=True)
    if assign.isEmpty():  # cheap on the checkpointed frame
        _raise_if_dims_mismatch(embeddings, dims, vec_col)
    return assign


def semantic_dedup_pairs(
    embeddings: DataFrame,
    assign: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs WITHIN k-means cells: (id_a < id_b,
    cosine_sim ≥ threshold), cosine on the ORIGINAL double vectors
    rounded to 6dp — the same scorer as lsh_bucketed_pairs, so the two
    families differ only in how they partition the corpus.  ``assign``
    is the (id, cluster) assignment of ``embeddings`` — a
    :func:`kmeans_int8` run passed through
    :func:`materialize_assignment`, since the self-join reads it twice."""
    memb = embeddings.join(assign, id_col).select(
        id_col, vec_col, "cluster", norm(vec_col).alias("_n")
    )
    a, b = memb.alias("a"), memb.alias("b")
    pairs = a.join(
        b,
        (F.col("a.cluster") == F.col("b.cluster"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.round(
            cosine_with_norms(f"a.{vec_col}", f"b.{vec_col}", "a._n", "b._n"),
            6,
        ).alias("cosine_sim"),
    )
    return pairs.filter(F.col("cosine_sim") >= threshold)


def semantic_dedup(
    embeddings: DataFrame,
    k: int | None = 16,
    iters: int = 1,
    threshold: float = 0.9,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_docs: int | None = None,
) -> DataFrame:
    """Keep-one-per-near-dup-set curation: every row that is the HIGHER
    id of a within-cluster pair at ≥ threshold is dropped (the repo's
    standard drop-higher-id / first-seen-wins policy); corrupt vectors
    survive (no cluster → no pair), same as every other dedup family.
    Returns the accepted rows with their cluster id (NULL for corrupt
    rows) — the cluster column is the SemDeDup byproduct callers use
    for stratified sampling and mixing."""
    assign = materialize_assignment(
        kmeans_int8(embeddings, k, iters, dims, id_col, vec_col, n_docs)[0],
        embeddings,
        dims,
        vec_col,
    )
    pairs = semantic_dedup_pairs(embeddings, assign, threshold, id_col, vec_col)
    dups = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return embeddings.join(dups, id_col, "left_anti").join(assign, id_col, "left")
