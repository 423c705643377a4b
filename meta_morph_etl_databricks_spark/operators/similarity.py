"""Similarity search over the ``embeddings`` table (``array<float>``
column) — brute-force cosine top-k as the correctness baseline and an
LSH-bucketed approximate variant as the scale path.

All vector math is JVM-side HOFs (``zip_with`` + ``aggregate``) — no
Python UDF, so the kernel runs inside whole-stage codegen.  For very
wide vectors a vectorized pandas_udf dot product can be swapped in; at
64 dims the HOF form benchmarks fine and keeps plans fully native.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..localrel import literal_frame


def _dlit(v: float) -> str:
    """A Python float as a Spark SQL DOUBLE literal.  repr() round-trips
    finite doubles exactly and the D suffix keeps them DOUBLE (bare
    decimals parse as DECIMAL); non-finite values have no literal form
    — 'nanD'/'infD' is a ParseException (r13 review) — so they render
    as the CAST forms F.lit() would have produced."""
    v = float(v)
    if v != v:
        return "CAST('NaN' AS DOUBLE)"
    if v == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if v == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return f"{v!r}D"


def _cref(name: str) -> str:
    """Column reference for the ``F.expr`` fast paths: each dot-separated
    segment backticked, so plain names and alias-qualified refs
    (``a.embedding``) both resolve.  A column whose NAME contains a
    literal dot must use the Column overload instead."""
    return ".".join(f"`{p}`" for p in name.split("."))


def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({_cref(a)}, {_cref(b)}, (x, y) -> x * y),"
        f" 0.0D, (acc, v) -> acc + v)"
    )


def dot(a: Column | str, b: Column | str) -> Column:
    """Float dot product.  String args take the one-round-trip ``F.expr``
    path (r14: a Python-lambda HOF is ~15 py4j calls of plan assembly;
    see quantize.qdot) — the parsed tree is identical."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_dot_sql(a, b))
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column | str) -> Column:
    """Euclidean norm.  String args take the ``F.expr`` path (see dot)."""
    if isinstance(a, str):
        return F.expr(
            f"sqrt(aggregate(transform({_cref(a)}, x -> x * x),"
            f" 0.0D, (acc, v) -> acc + v))"
        )
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 when either side has zero norm OR a
    non-finite component (see :func:`cosine_with_norms`)."""
    na, nb = norm(a), norm(b)
    return F.nanvl(
        F.when((na > 0) & (nb > 0), dot(a, b) / (na * nb)).otherwise(F.lit(0.0)),
        F.lit(0.0),
    )


def cosine_with_norms(
    a: Column | str, b: Column | str, na: Column | str, nb: Column | str
) -> Column:
    """Cosine with PRE-COMPUTED norms.  HOFs run interpreted with no
    subexpression reuse, so norm(a)/norm(b) inside a pairwise join cost
    two extra full-vector passes PER PAIR — compute them once per vector
    before the join instead (same value, ~3× less pair work).

    NaN-poisoning guard: Spark orders NaN ABOVE every double and
    evaluates ``NaN >= t`` as true, so one corrupt vector (a NaN/Inf
    component — routine in a 100 TB embedding dump) would outrank every
    true match in a top-k window AND leak through similarity-threshold
    filters.  The ``nanvl`` collapses any NaN score to 0.0 — the same
    class the zero-norm contract already assigns to degenerate vectors —
    for one scalar op per pair (the ``vn > 0`` guard alone does NOT
    catch it: NaN norms pass that comparison).

    All-string args take the ``F.expr`` path (see :func:`dot`) — same
    parsed tree, one py4j round trip instead of ~40."""
    if isinstance(a, str) and isinstance(b, str) and isinstance(na, str) and isinstance(nb, str):
        NA, NB = _cref(na), _cref(nb)
        return F.expr(
            f"nanvl(CASE WHEN {NA} > 0 AND {NB} > 0"
            f" THEN {_dot_sql(a, b)} / ({NA} * {NB}) ELSE 0.0D END, 0.0D)"
        )
    return F.nanvl(
        F.when((na > 0) & (nb > 0), dot(a, b) / (na * nb)).otherwise(F.lit(0.0)),
        F.lit(0.0),
    )


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = False,
) -> DataFrame:
    """Brute-force cosine top-k: broadcast the (small) query set against
    the full embedding corpus, score every pair, keep k per query via
    window top-k.

    Scale shape: corpus stays partitioned and is scanned ONCE; queries
    broadcast; the only shuffle is the per-query top-k (tiny — k rows
    per query survive the WindowGroupLimit partial top-k on the map
    side).  For corpus×corpus joins use ``lsh_bucketed_topk``.
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qvec"), norm(vec_col).alias("_qn")
    )
    corpus = embeddings.select(id_col, vec_col, norm(vec_col).alias("_n"))
    scored = corpus.join(F.broadcast(q)).select(
        query_id_col,
        id_col,
        F.round(
            cosine_with_norms(vec_col, "_qvec", "_n", "_qn"), 6
        ).alias("cosine_sim"),
    )
    if exclude_self:
        scored = scored.filter(F.col(id_col) != F.col(query_id_col))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"), F.asc(id_col))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k).drop("rnk")


def random_hyperplanes(dims: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG — no numpy RNG state,
    reproducible across engines/runs).

    The divisor is 2^30 for a genuine [-1, 1) range: the shifted state
    is 31 bits, and dividing by 2^31 (the original form) lands every
    component in [-1, 0) — ALL planes then share the all-negative
    orthant (pairwise cosine exactly (1/4)/(1/3) = 0.75, measured),
    the sign bits collapse to ~one effective bit, and 20% of a 200k
    isotropic corpus piles into bucket 0 / bucket 2^n−1 no matter how
    many planes are added — 1.6B in-bucket pairs where the uniform
    model predicts ~20M.  Bucket-size-vs-planes math (auto_n_planes)
    only holds with planes spanning both signs."""
    planes: list[list[float]] = []
    state = seed
    for _ in range(n_planes):
        row = []
        for _ in range(dims):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(((state >> 33) / float(1 << 30)) - 1.0)  # [-1, 1)
        planes.append(row)
    return planes


def lsh_bucket(
    vec: Column | str, planes: list[list[float]], center: list[float] | None = None
) -> Column:
    """Sign-random-projection bucket id: bit i = sign((vec − center) ·
    plane_i).  Vectors in the same bucket are ANN candidates.

    ``center`` matters at scale: REAL embedding distributions are
    anisotropic (vectors live in a cone around a dominant direction),
    so uncentered sign bits correlate and occupancy collapses onto the
    all-negative / all-positive codes — measured on the 200k-vector
    scale corpus, buckets 0 and 2^n−1 held 40k vectors EACH (1.6B
    in-bucket pairs; `BENCH_SCALE.md`).  Centering on the corpus mean
    restores near-uniform occupancy, and costs nothing per row:
    (v−c)·p = v·p − c·p, so the correction is one precomputed CONSTANT
    per plane.  The center is part of the bucket function — store it
    with the index and reuse it for every increment, like the planes."""
    offsets = [0.0] * len(planes)
    if center is not None:
        offsets = [sum(c * p for c, p in zip(center, plane)) for plane in planes]
    if isinstance(vec, str):
        # ONE expr for the whole bucket code (r14): the per-plane
        # Column chain (8 planes × dot's two lambdas + when/lit) was
        # ~240 py4j round-trips ≈ 0.2 s of driver plan assembly per
        # bucketing site.  Same parsed tree: per-plane CASE bits summed,
        # cast bigint; _dlit round-trips every double bit-exactly.
        bits = []
        for i, plane in enumerate(planes):
            arr = ", ".join(_dlit(v) for v in plane)
            d = (
                f"aggregate(zip_with(`{vec}`, array({arr}), (x, y) -> x * y),"
                f" 0.0D, (acc, e) -> acc + e)"
            )
            bits.append(
                f"(CASE WHEN {d} > {_dlit(offsets[i])} THEN {2**i} ELSE 0 END)"
            )
        return F.expr("CAST(" + " + ".join(bits) + " AS BIGINT)")
    code = None
    for i, plane in enumerate(planes):
        # ONE expr per plane, not dims unrolled F.lit calls: at
        # n_planes=8 × dims=64 the literal arrays alone were ~512 py4j
        # round-trips of driver plan-assembly per bucketing site (r13
        # serve-floor profiler).  _dlit round-trips every double —
        # including non-finite caller-supplied planes — bit-exactly.
        p = F.expr("array({})".format(", ".join(_dlit(v) for v in plane)))
        bit = F.when(dot(vec, p) > F.lit(float(offsets[i])), F.lit(2**i)).otherwise(F.lit(0))
        code = bit if code is None else code + bit
    return code.cast("bigint")


def embedding_center(
    embeddings: DataFrame, dims: int, vec_col: str = "embedding"
) -> list[float]:
    """Per-dimension mean of a vector column — the centering constant
    for :func:`lsh_bucket`.  One pass, ``dims`` scalar aggregates
    (element access, no explode); corrupt rows (NULL / wrong length /
    any non-finite component) contribute nothing.  The non-finite guard
    is load-bearing: ``avg`` propagates NaN, so ONE NaN vector in a
    1B-row corpus would make every center component NaN — and a NaN
    offset fails every ``dot > offset`` comparison, collapsing every
    honest vector into bucket 0 (found by the auto-center default in
    index_store.create_embedding_index; the max-|v| probe is the same
    finite test quantize_int8 uses).  O(corpus) once at index build,
    never per increment."""
    amax = F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x)))
    finite = ~F.isnan(amax) & (amax != F.lit(float("inf")))
    # ONE selectExpr, not dims unrolled avg(getItem) Column chains —
    # at dims=64 the per-Column py4j round-trips were ~0.3 s of pure
    # driver plan-assembly per build/bootstrap (r13 serve-floor
    # profiler); the parsed aggregate tree is identical
    row = embeddings.where(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == dims) & finite
    ).selectExpr(
        *[f"avg(`{vec_col}`[{i}]) AS m{i}" for i in range(dims)]
    ).first()
    if row is None or row["m0"] is None:
        return [0.0] * dims
    return [float(row[f"m{i}"]) for i in range(dims)]


def ivf_centroids(embeddings: DataFrame, k: int = 16, id_col: str = "vec_id", vec_col: str = "embedding") -> list[tuple[int, list[float]]]:
    """IVF coarse quantizer: k centroid vectors, collected to the driver
    (k is small by construction — the inverted-file index is built
    around tens-to-thousands of lists).

    Deterministic seed rule (the k lowest ids) instead of k-means so the
    whole index is reproducible and oracle-checkable; a production
    deployment swaps in one k-means|| pass over a sample and nothing
    else changes.

    An empty corpus yields an empty codebook ``[]``; the assignment
    kernels and serve path treat that as an empty index (zero lists),
    so the whole IVF pipeline degrades to zero rows instead of raising
    when an upstream filter drains the corpus.

    Seed hygiene: NULL vectors and vectors with a non-finite component
    are skipped (a NaN centroid would score NaN against the whole
    corpus; a NULL one crashed the collect) — one extra HOF predicate
    on the build scan, a one-time ingest cost.
    """
    v = F.col(vec_col)
    rows = (
        embeddings.select(id_col, vec_col)
        .where(
            v.isNotNull()
            & ~F.exists(v, lambda x: F.isnan(x) | (F.abs(x) == F.lit(float("inf"))))
        )
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    return [(int(r[0]), [float(v) for v in r[1]]) for r in rows]


def ivf_centroids_kmeans(
    embeddings: DataFrame,
    k: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 5,
) -> list[tuple[int, list[float]]]:
    """Learned IVF codebook via Spark MLlib k-means (k-means|| init —
    the production-quality quantizer; :func:`ivf_centroids` is the
    deterministic oracle-checkable stand-in).  Centroid ids are their
    cluster indices."""
    try:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector
    except ImportError as e:  # pragma: no cover - mllib ships with pyspark
        raise NotImplementedError(f"pyspark.ml unavailable: {e}") from e

    v = F.col(vec_col)
    vecs = embeddings.where(
        v.isNotNull() & ~F.exists(v, lambda x: F.isnan(x) | (F.abs(x) == F.lit(float("inf"))))
    ).select(array_to_vector(v.cast("array<double>")).alias("features"))
    model = KMeans(k=k, seed=seed, maxIter=max_iter).fit(vecs)
    return [(i, [float(v) for v in c]) for i, c in enumerate(model.clusterCenters())]


def _seq_norm(vec: list[float]) -> float:
    """Norm via the same sequential left-fold the HOF ``norm`` performs
    (plain Python doubles ARE IEEE doubles, and the loop adds in index
    order), so the value is bit-identical to ``norm(lit(vec))``."""
    acc = 0.0
    for v in vec:
        acc += v * v
    return acc**0.5


def _flat_codebook_df(embeddings: DataFrame, centroids: list[tuple[int, list[float]]]) -> DataFrame:
    """The codebook flattened to (cid, _pos, _y, _cn) rows for the
    explode-scoring path — k×dims rows, broadcastable."""
    spark = embeddings.sparkSession
    rows = []
    for cid, vec in centroids:
        cn = _seq_norm(vec)
        rows.extend((cid, pos, float(y), cn) for pos, y in enumerate(vec))
    # Arrow input plans a LocalTableScan; list input, an RDD scan
    return F.broadcast(literal_frame(spark, rows, "cid long, _pos int, _y double, _cn double"))


def _empty_assignment(embeddings: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Zero-row assignment frame in the (id, vec, centroid_id, _n)
    shape both kernels return — the empty-codebook result."""
    return embeddings.limit(0).select(
        id_col,
        vec_col,
        F.lit(None).cast("long").alias("centroid_id"),
        F.lit(0.0).alias("_n"),
    )


def _assign_scored(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Nearest-centroid assignment in ONE shuffle: posexplode the vector,
    broadcast-join the flattened codebook, and compute every per-centroid
    dot as a conditional ``sum`` in a single hash aggregate — the
    codegen'd form of k HOF dot products per vector.

    Bit-identical to ``cosine_with_norms(vec, cvec, norm(vec), cn)``:
    the partial aggregate accumulates each conditional sum in input
    order, and the generate output streams positions ascending within
    one task, so ``sum(when(cid=c, x*y))`` performs the same
    ``((0 + x0·y0) + x1·y1) + ...`` double additions as the interpreted
    ``aggregate`` fold — but inside whole-stage codegen, with no
    per-element boxing and no k passes over the array.  (Float inputs
    square in float first, exactly like ``transform(a, x -> x*x)``.)
    Argmax is ``array_max`` over (sim, cid) structs — lexicographic,
    ties to the larger cid, exactly like ``max(struct(sim, cid))``.

    Generate → broadcast join → partial agg fuse into one map stage;
    the shuffle carries one row per vector (k+1 doubles).  The exploded
    rows carry ONLY (id, pos, x) scalars — the vector itself is joined
    back by id after the aggregate.  The earlier form rode the vector
    through the explode and an ``any_value(vec_col)``, which was a
    scale killer twice over: every exploded row duplicated the full
    array (n·d rows × d doubles — 6.6 GB at 200k×64), and an array
    aggregation buffer forces SortAggregate, so those wide rows were
    SORTED twice (partial + final).  Measured at 200k×64: the serve
    query went 87 s → ~8 s after switching to the narrow explode
    (HashAggregate, no sort) plus one narrow join-back shuffle.
    Empty or NULL vectors are KEPT: ``posexplode_outer`` emits one
    null-position row for them, the left codebook join leaves every
    conditional sum NULL, and all k sims evaluate to 0.0 — the argmax
    then ties to the largest cid, exactly the behavior of the earlier
    k-HOF-dots path (``max(struct(0.0, cid))``), with ``_n`` = 0.0.
    Per-key accumulation order is unchanged (generate streams positions
    ascending into the partial hash agg), so the conditional sums fold
    in the same double order as the interpreted ``aggregate`` — the
    bit-exactness contract with the oracle holds.

    Returns (id_col, vec_col, centroid_id, _n) — ``_n`` is the vector
    norm, free from the same pass.

    An empty codebook (the honest product of training on an empty
    corpus — :func:`ivf_centroids` collects zero seed rows) yields an
    empty index: zero lists hold zero entries, and the serve path then
    returns zero candidates instead of crashing mid-pipeline when an
    upstream filter leaves a partition with no vectors.
    """
    if not centroids:
        return _empty_assignment(embeddings, id_col, vec_col)
    flat = _flat_codebook_df(embeddings, centroids)
    first_cid = centroids[0][0]
    norms = {cid: _seq_norm(vec) for cid, vec in centroids}
    ex = embeddings.select(id_col, F.posexplode_outer(vec_col).alias("_pos", "_x"))
    # expr strings, not per-cid Column chains — py4j plan-assembly cost
    # grows with k otherwise (r13 serve-floor profiler); parsed trees
    # are identical (CASE-without-ELSE ≡ when-without-otherwise, and
    # float literals carry the D suffix so they stay DOUBLE, not the
    # DECIMAL Spark SQL defaults bare decimals to)
    per = (
        ex.join(flat.drop("_cn"), "_pos", "left")
        .groupBy(id_col)
        .agg(
            *[
                F.expr(f"SUM(CASE WHEN cid = {cid} THEN _x * _y END) AS _d{cid}")
                for cid, _ in centroids
            ],
            F.expr(
                f"SUM(CASE WHEN cid = {first_cid} THEN _x * _x END) AS _sq"
            ),
        )
        .join(embeddings.select(id_col, vec_col), id_col, "left")
    )
    vn = F.sqrt(F.col("_sq"))
    # nanvl: a NaN-component vector yields NaN sums; without the guard
    # NaN outranks every real sim in the argmax (Spark NaN ordering) and
    # the corrupt vector lands in an arbitrary hot list — score it 0.0
    # like the other degenerate vectors instead (same contract as
    # cosine_with_norms)
    sims = F.expr(
        "array({})".format(
            ", ".join(
                "named_struct('sim', nanvl(CASE WHEN SQRT(_sq) > 0D AND {n} > 0D "
                "THEN ROUND(_d{cid} / (SQRT(_sq) * {n}), 6) ELSE 0.0D END, 0.0D), "
                "'cid', CAST({cid} AS BIGINT))".format(cid=cid, n=_dlit(norms[cid]))
                for cid, _ in centroids
            )
        )
    )
    return per.select(
        id_col,
        vec_col,
        F.array_max(sims)["cid"].alias("centroid_id"),
        F.coalesce(vn, F.lit(0.0)).alias("_n"),  # NULL for empty/NULL vectors
    )


def _codebook_df(embeddings: DataFrame, centroids: list[tuple[int, list[float]]]) -> DataFrame:
    """The codebook as a broadcastable DataFrame with precomputed norms.
    A DataFrame (not literal expressions) keeps the plan tiny — k=16
    centroid literals inflate every task closure by ~1 MiB and blow up
    codegen; a broadcast relation is the same map-only shape without
    the expression-tree cost."""
    spark = embeddings.sparkSession
    # Arrow input plans a LocalTableScan; list input, an RDD scan
    cdf = literal_frame(
        spark, [(cid, vec) for cid, vec in centroids], "cid long, cvec array<double>"
    )
    return F.broadcast(cdf.withColumn("_cn", norm("cvec")))


def _rank_centroids(
    df: DataFrame, codebook: DataFrame, vec_col: str, keep: int, key_cols: list[str]
) -> DataFrame:
    """Rank the codebook per row by (sim DESC, cid DESC) — rounded to
    6dp first so the argmax never flips on float noise across engines —
    and keep the top ``keep`` centroids as ``centroid_id``."""
    from pyspark.sql import Window

    vn = norm(vec_col)
    scored = df.withColumn("_n", vn).join(codebook).withColumn(
        "_sim", F.round(cosine_with_norms(vec_col, "cvec", "_n", "_cn"), 6)
    )
    w = Window.partitionBy(*key_cols).orderBy(F.desc("_sim"), F.desc("cid"))
    return (
        scored.withColumn("_rnk", F.row_number().over(w))
        .filter(F.col("_rnk") <= keep)
        .drop("cvec", "_cn", "_sim")
        .withColumnRenamed("cid", "centroid_id")
    )


def ivf_assign(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid's inverted list.

    Scoring runs on the one-shuffle explode + broadcast-join +
    conditional-sum path (:func:`_assign_scored`) — one codegen'd pass
    computes all k dots per vector; the earlier form (k interpreted HOF
    dots per vector via a codebook cross-join) spent ~3× the whole IVF
    query's budget in the interpreted evaluator."""
    return _assign_scored(embeddings, centroids, id_col, vec_col).drop("_n")


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = False,
) -> DataFrame:
    """IVF approximate top-k: corpus partitioned into inverted lists by
    nearest centroid; each query probes only its ``nprobe`` nearest
    lists.  Scan cost drops from O(n) to O(n·nprobe/k_lists) per query —
    the standard ANN recall/cost dial.

    Shape: assignment is map-only; the probe is an equi-join on
    centroid_id (queries exploded to nprobe rows); per-query top-k via
    window (WindowGroupLimit keeps partial top-k map-side).

    Assignment kernel is auto-picked (:func:`ivf_index`): the bit-exact
    conditional-sum codegen path up to 64 lists (covers the declared
    query's oracle-pinned nlist=16), the Arrow/BLAS matmul past that.
    """
    lists = ivf_index(embeddings, centroids, id_col, vec_col, method="auto")
    return ivf_topk_indexed(
        lists,
        queries,
        centroids,
        k=k,
        nprobe=nprobe,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        exclude_self=exclude_self,
    )


def ivf_index(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "auto",
) -> DataFrame:
    """Build the IVF index — the inverted lists (id, vector, centroid_id,
    _n) — as a first-class artifact to persist/write once and serve many
    queries from (:func:`ivf_topk_indexed`).  :func:`ivf_topk` folds the
    build into every call, which is fine for one-shot analytics but
    charges the O(n·nlist) assignment to every query batch; a production
    ANN deployment builds at ingest and amortizes.

    ``method``: ``'scored'`` = the one-shuffle conditional-sum codegen
    path (bit-exact with the declared-query oracle, best for small
    nlist); ``'numpy'`` = Arrow-batched BLAS matmul (best for wide
    codebooks — the codegen path materializes k conditional sums per
    vector, which stops paying past ~64 lists); ``'auto'`` picks by
    codebook width.
    """
    if method == "auto":
        method = "numpy" if len(centroids) > 64 else "scored"
    if method == "scored":
        return _assign_scored(embeddings, centroids, id_col, vec_col)
    if method == "numpy":
        return _assign_numpy(embeddings, centroids, id_col, vec_col)
    raise ValueError(f"unknown assignment method {method!r}")


def _assign_numpy(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment as one numpy matmul per Arrow batch
    against the task-broadcast centroid matrix — O(n·nlist·dim) flops at
    BLAS speed, the kernel for wide codebooks (nlist ≈ √n at scale).

    Matches :func:`_assign_scored`'s contract: cosine rounded to 6dp
    with sign-aware HALF_UP (mirroring Spark's ``round``; plain
    ``np.round`` is half-even and would flip exact .5 boundaries),
    argmax ties to the LARGER cid (centroids sorted ascending, last-max
    argmax), empty/NULL vectors get sim 0.0 everywhere → largest cid,
    ``_n`` 0.0.  mapInPandas (vectorized, Arrow batches), never
    row-at-a-time.

    Parity caveat (why the declared query stays on the scored kernel):
    agreement is floating-point-practical, not guaranteed bit-exact —
    numpy's matmul/pairwise sums can differ from the JVM's sequential
    fold in the last ulp, which can cross a 6dp rounding boundary for
    adversarial values.  Assignments that flip on such a boundary were
    near-ties between centroids to begin with; the parity test pins
    agreement on real data.
    """
    import numpy as np

    if not centroids:  # empty codebook → empty index (see _assign_scored)
        return _empty_assignment(embeddings, id_col, vec_col)
    cents = sorted(centroids)  # cid ascending → last-max == largest cid
    C = np.asarray([vec for _, vec in cents], dtype=np.float64)  # (L, d)
    cids = np.asarray([cid for cid, _ in cents], dtype=np.int64)
    cn = np.sqrt((C * C).sum(axis=1))  # (L,)
    dim = C.shape[1]
    # id/vec types MIRROR the input frame (r12 review): a hardcoded
    # `long` id silently widened non-bigint ids once nlist > 64 flipped
    # method='auto' here, and the index sidecar's recorded id_type then
    # disagreed with the stored parquet — every later schema'd read of
    # the index failed.  _assign_scored passes the columns through
    # untouched; this kernel must declare the same types it passes.
    dtypes = dict(embeddings.dtypes)
    schema = (
        f"{id_col} {dtypes[id_col]}, {vec_col} {dtypes[vec_col]}, "
        "centroid_id long, _n double"
    )

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = [
                np.zeros(dim) if v is None or not len(v) else np.asarray(v, dtype=np.float64)
                for v in pdf[vec_col]
            ]
            M = np.stack(vecs)  # (b, d)
            vn = np.sqrt((M * M).sum(axis=1))  # (b,)
            denom = np.outer(vn, cn)  # (b, L)
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = np.where(denom > 0, (M @ C.T) / denom, 0.0)
            # sign-aware HALF_UP at 6dp — closer to Spark's round than
            # np.round's half-even, but NOT exact parity: Spark rounds
            # the shortest-decimal rendering (BigDecimal.valueOf) while
            # this rounds the scaled binary double (see docstring caveat)
            sims = np.sign(sims) * np.floor(np.abs(sims) * 1e6 + 0.5) / 1e6
            # last-max argmax: reverse columns, argmax picks FIRST max
            # of the reversed row = LAST max of the original = largest
            # cid among ties (cids ascend)
            last_max = sims.shape[1] - 1 - np.argmax(sims[:, ::-1], axis=1)
            out = pdf[[id_col, vec_col]].copy()
            out["centroid_id"] = cids[last_max]
            out["_n"] = vn
            yield out

    return embeddings.select(id_col, vec_col).mapInPandas(assign, schema)


def ivf_topk_indexed(
    index: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = False,
) -> DataFrame:
    """The IVF serve path over a pre-built index (:func:`ivf_index`):
    rank the (broadcast) codebook per query, explode to ``nprobe`` probe
    rows, equi-join the inverted lists on centroid_id, score, window
    top-k (WindowGroupLimit keeps partial top-k map-side).

    Per-query scan cost is O(n·nprobe/nlist); with ``auto_nlist`` (√n)
    and a fixed probe FRACTION this is the sublinear serve path the
    scale bench measures — the O(n·nlist) assignment is the index's
    one-time build cost, not a per-query charge.
    """
    from pyspark.sql import Window

    codebook = _codebook_df(index, centroids)
    probes = _rank_centroids(
        queries.select(query_id_col, F.col(vec_col).alias("_qvec")),
        codebook,
        "_qvec",
        keep=nprobe,
        key_cols=[query_id_col],
    ).withColumnRenamed("_n", "_qn").select(query_id_col, "_qvec", "_qn", "centroid_id")
    scored = index.join(probes, "centroid_id").select(
        query_id_col,
        id_col,
        F.round(
            cosine_with_norms(vec_col, "_qvec", "_n", "_qn"), 6
        ).alias("cosine_sim"),
    )
    if exclude_self:
        scored = scored.filter(F.col(id_col) != F.col(query_id_col))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"), F.asc(id_col))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k).drop("rnk")


def auto_nlist(n_vectors: int, floor: int = 16, cap: int = 65536) -> int:
    """IVF list-count dial: nlist ≈ √n (the standard IVF sizing — list
    build cost n·nlist and per-query probe cost n·nprobe/nlist balance
    at √n), floored at 16 so tiny corpora keep a non-degenerate list
    space (the declared query pins nlist=16 for its static oracle; this
    rule is the scale-path dial), capped so the
    broadcast codebook stays tiny (65536 lists × dim doubles ≈ 32 MiB
    at dim 64)."""
    import math

    return max(floor, min(cap, math.isqrt(max(n_vectors, 0))))


def auto_nprobe(nlist: int, frac: float = 0.05, floor: int = 2) -> int:
    """Probe-count companion to :func:`auto_nlist`: a fixed FRACTION of
    the list space (default 5%) keeps recall roughly constant as nlist
    grows with the corpus, while scanned rows stay n·frac·(1/√n-ish of
    the fixed-nlist path)."""
    import math

    return max(floor, math.ceil(nlist * frac))


def auto_n_planes(n_vectors: int, target_bucket_size: int = 200, floor: int = 4) -> int:
    """The log2 sizing rule as code: within-bucket cost is
    O(bucket_size²), so planes must GROW with the corpus —
    ``ceil(log2(n / target_bucket_size))`` keeps the expected bucket at
    ``target_bucket_size`` (1e9 vectors, ~200/bucket → 23 planes).
    Floored so tiny corpora still get a non-degenerate bucket space."""
    import math

    if n_vectors <= target_bucket_size:
        return floor
    return max(floor, math.ceil(math.log2(n_vectors / target_bucket_size)))


def lsh_bucketed_pairs(
    embeddings: DataFrame,
    n_planes: int | None = 8,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    target_bucket_size: int = 200,
    n_docs: int | None = None,
    center: list[float] | None = None,
) -> DataFrame:
    """ANN near-duplicate pairs: bucket by sign-random-projection, score
    cosine only WITHIN buckets (the O(n²) join becomes per-bucket).
    Returns (id_a, id_b, cosine_sim ≥ threshold).

    Sizing: ``n_planes=None`` derives the plane count from the corpus
    size via :func:`auto_n_planes` — from ``n_docs`` when given (the
    100 TB contract: the caller knows the corpus size from catalog
    statistics and no sizing scan runs), else from one ``count()`` over
    the input (fine interactively; a parquet-metadata-scale job).  An
    explicit ``n_planes`` overrides — the declared query pins 8 so its
    oracle's inlined plane constants stay in lockstep.

    Pass ``center`` (:func:`embedding_center`) for anisotropic corpora —
    real embedding distributions collapse uncentered sign buckets onto
    the two all-same-sign codes (see :func:`lsh_bucket`; measured 20%
    of a 200k corpus in ONE bucket, fixed by centering).  Default None
    keeps the declared query's oracle-pinned behavior."""
    if n_planes is None:
        n_planes = auto_n_planes(
            embeddings.count() if n_docs is None else n_docs, target_bucket_size
        )
    planes = random_hyperplanes(dims, n_planes)
    # corrupt rows get a NULL bucket (r12 review): NULL / wrong-length /
    # NULL-element / non-finite vectors NULL (or NaN) the dot, every
    # sign bit falls to otherwise(0), and at corpus scale they all pile
    # into bucket 0 and cross-join against its honest residents.  Their
    # cosine is NULL/NaN so they never produced PAIRS even before —
    # this guard removes the join-cost poison, not any result row
    # (same containment embedding_bucket_index applies for the
    # persisted-index path).
    _amax = f"array_max(transform(`{vec_col}`, x -> abs(x)))"
    _valid = F.expr(
        f"`{vec_col}` IS NOT NULL AND size(`{vec_col}`) = {int(dims)}"
        f" AND NOT exists(`{vec_col}`, x -> x IS NULL)"
        f" AND NOT isnan({_amax}) AND {_amax} != CAST('Infinity' AS DOUBLE)"
    )
    bucketed = embeddings.select(
        id_col,
        vec_col,
        F.when(_valid, lsh_bucket(vec_col, planes, center)).alias("bucket"),
        F.expr(
            f"sqrt(aggregate(transform(`{vec_col}`, x -> x * x), 0.0D,"
            f" (acc, e) -> acc + e))"
        ).alias("_n"),
    )
    a, b = bucketed.alias("a"), bucketed.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.round(
            cosine_with_norms(f"a.{vec_col}", f"b.{vec_col}", "a._n", "b._n"),
            6,
        ).alias("cosine_sim"),
    )
    return pairs.filter(F.col("cosine_sim") >= threshold)
