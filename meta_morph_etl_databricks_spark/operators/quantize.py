"""Int8 embedding quantization — the storage/shuffle scale lever for
the similarity stack.

At 100 TB the embedding columns dominate both the parquet footprint and
every similarity shuffle: a 64-dim float64 array is 512 bytes/row where
an int8 code is 64.  Symmetric per-vector quantization
(``scale = max|v| / 127``, ``q_i = round(v_i / scale)``) keeps enough
precision that COSINE is nearly unchanged — and because cosine
normalizes both sides, the per-vector scales cancel exactly:

    cos(q_a·s_a, q_b·s_b) = (s_a s_b · q_a·q_b) / (s_a|q_a| · s_b|q_b|)
                          = cos(q_a, q_b)

so the quantized scorer never dequantizes: it runs an integer dot
kernel over ``array<tinyint>`` and divides by integer norms.  The
scale column is carried only for reconstruction (:func:`dequantize`).

All kernels are JVM-side HOFs (zip_with/aggregate over tinyint→long) —
no Python, no shuffle added; quantization itself is map-only.

Reference parity note: the reference engine stores embeddings as raw
float arrays only (no quantized path) — this operator is part of the
beyond-reference training-data-pipeline surface, same tier as the IVF
index it composes with (``ivf_topk`` accepts pre-quantized corpora the
same way any DataFrame flows in).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "q_vec",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Add symmetric int8 codes: ``out_col: array<tinyint>`` and
    ``scale_col: double`` with ``v_i ≈ q_i · scale``.

    Map-only (one projection, no shuffle).  Zero vectors get scale 1.0
    and an all-zero code; NULL vectors stay NULL with a NULL scale, and
    so do vectors with ANY non-finite component (one NaN element made
    the whole JOB die with CAST_OVERFLOW under ANSI mode — NaN cannot
    cast to tinyint — so a single corrupt row poisoned a full corpus
    encode; ``array_max`` propagates NaN and an Inf max zeroes every
    element except Inf/Inf=NaN, so the max|v| probe detects both).
    Codes are exact ±127 at the element whose magnitude set the scale,
    so the tinyint range is never exceeded (round is half-up on the
    positive edge: 126.5 → 127, within range).  Zero-LENGTH vectors
    also code NULL (their max|v| is NULL, same probe) — downstream
    scoring treats NULL and empty codes identically (sim 0.0).

    The per-element division binds the scale via ``zip_with`` against
    ``array_repeat(scale, d)`` rather than referencing the scale column
    inside a ``transform`` lambda.  The naive form is a scale trap:
    when a downstream ``select`` prunes ``scale_col``, CollapseProject
    inlines the scale expression (itself an ``array_max(transform)``
    full-vector pass) into the lambda body — O(d²) work per row — and a
    pushed-down ``q_vec IS NOT NULL`` filter then evaluates that
    blown-up expression for EVERY corpus row below any limit (measured:
    a take-16 over 200k×64-dim codes cost 89 s; with the repeat-array
    binding the scale is evaluated once per row no matter what the
    optimizer prunes, same take ~1 s).  Values are bit-identical:
    round(x / s) per element either way.

    Built as TWO ``F.expr`` strings, not Column-API lambdas (r14, guide
    §1.2 driver work + the r13 py4j lesson): every Python-lambda HOF is
    ~15 py4j round-trips of plan assembly, and this constructor runs
    once per coding site — 9× inside one q_embed_near_dup_lsh build,
    ~70 ms each (profiled: 9,386 round-trips per build, 3.4 s of
    socket time).  The parsed tree is identical — same HOFs, same CASE
    short-circuits, D-suffixed double literals — so executor-side
    evaluation and results are unchanged.

    Inline notes preserved from the Column form: (a) interior-NULL
    elements join the corrupt class at the ROOT (r12 review) via the
    exists() probe — array_max skips NULLs, so [0.5, NULL, ...] would
    otherwise code non-NULL and seed int(None) crashes downstream;
    (b) denormal floor (r12 review): amax in (0, ~1e-300] underflows
    the scale and round(x/scale) then blows the tinyint cast under
    ANSI — such vectors are zero at int8 resolution and take the
    zero-vector arm (scale 1.0, all-zero code); (c) the outer CASE
    short-circuits per row, so the tinyint cast never evaluates for
    non-finite vectors (their scale is NULL)."""
    v = f"`{vec_col}`"
    amax = f"array_max(transform({v}, x -> abs(x)))"
    out = df.withColumn(
        scale_col,
        F.expr(
            f"CAST(CASE WHEN {v} IS NOT NULL"
            f" AND NOT exists({v}, x -> x IS NULL)"
            f" AND NOT isnan({amax})"
            f" AND {amax} != CAST('Infinity' AS DOUBLE)"
            f" THEN CASE WHEN {amax} > 1e-300D THEN {amax} / 127.0D"
            f" ELSE 1.0D END END AS DOUBLE)"
        ),
    )
    return out.withColumn(
        out_col,
        F.expr(
            f"CASE WHEN `{scale_col}` IS NOT NULL THEN"
            f" zip_with({v}, array_repeat(`{scale_col}`, size({v})),"
            f" (x, s) -> CAST(round(x / s) AS TINYINT)) END"
        ),
    )


def dequantize(q: Column, scale: Column) -> Column:
    """Reconstruct approximate floats: element error ≤ scale/2."""
    return F.transform(q, lambda x: x.cast("double") * scale)


def qdot(a: Column | str, b: Column | str) -> Column:
    """Integer dot product of two int8 codes, accumulated in long —
    64 dims of ±127 products peaks at ~1e6, nowhere near overflow.

    Deliberately the ``aggregate(zip_with(...))`` HOF, including in the
    per-PAIR join filters.  The "HOFs run interpreted, unroll to
    GetArrayItem for codegen" rule that pays at small widths
    (incremental._est: 16 equality terms) INVERTS at dims=64 — measured
    r10 on the 4.6M-pair scale100 semantic serve filter: HOF 12.6 s,
    64-term GetArrayItem chain 55.8 s, balanced-tree sum 58.6 s,
    pre-cast-int HOF 13.5 s.  The 64-wide unrolled expression blows the
    JIT budget while the HOF's tight specialized loop stays ~40 ns per
    element — do not "optimize" this into indexed form without
    re-measuring.

    String args take the one-round-trip ``F.expr`` path (r14: a
    Python-lambda HOF is ~15 py4j calls of plan assembly; hot
    constructors pass column NAMES) — the parsed tree is identical."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(
            f"aggregate(zip_with(`{a}`, `{b}`,"
            f" (x, y) -> CAST(x AS BIGINT) * CAST(y AS BIGINT)),"
            f" CAST(0 AS BIGINT), (acc, e) -> acc + e)"
        )
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def qnorm(a: Column | str) -> Column:
    """Euclidean norm of an int8 code (integer squares, one sqrt).
    String args take the one-round-trip ``F.expr`` path (see qdot)."""
    if isinstance(a, str):
        return F.expr(
            f"sqrt(CAST(aggregate(transform(`{a}`,"
            f" x -> CAST(x AS BIGINT) * CAST(x AS BIGINT)),"
            f" CAST(0 AS BIGINT), (acc, e) -> acc + e) AS DOUBLE))"
        )
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("long") * x.cast("long")),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).cast("double")
    )


def quantized_topk_from_codes(
    codes: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "q_vec",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = False,
) -> DataFrame:
    """Cosine top-k over a PRE-quantized corpus — the deployment shape:
    codes are written once at ingest (``quantize_int8`` + parquet) and
    every query scans ``array<tinyint>``, 4–8× fewer bytes than floats.

    Same plan as ``similarity.cosine_topk`` (corpus scanned once,
    queries broadcast, WindowGroupLimit partial top-k).  The int casts
    happen ONCE per vector in the pre-join projections — the per-pair
    kernel is pure int multiplies with a long accumulator (64 dims of
    ±127 products peaks ~1e6; the long accumulator keeps even 100k-dim
    codes overflow-free).  Queries arrive as float vectors and are
    quantized on the fly — per-query cost, negligible.
    """
    from pyspark.sql import Window

    as_int = lambda c: F.expr(f"transform(`{c}`, x -> CAST(x AS INT))")  # noqa: E731
    q = quantize_int8(queries, vec_col).select(
        F.col(query_id_col),
        as_int("q_vec").alias("_qq"),
        qnorm("q_vec").alias("_qn"),
    )
    corpus = codes.select(
        id_col, as_int(code_col).alias("_ci"), qnorm(code_col).alias("_n")
    )
    idot = F.expr(
        "aggregate(zip_with(_ci, _qq, (x, y) -> x * y),"
        " CAST(0 AS BIGINT), (acc, e) -> acc + e)"
    )
    sim = F.when(
        (F.col("_n") > 0) & (F.col("_qn") > 0),
        idot.cast("double") / (F.col("_n") * F.col("_qn")),
    ).otherwise(F.lit(0.0))
    scored = corpus.join(F.broadcast(q)).select(
        query_id_col, id_col, F.round(sim, 6).alias("cosine_sim")
    )
    if exclude_self:
        scored = scored.filter(F.col(id_col) != F.col(query_id_col))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"), F.asc(id_col))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k).drop("rnk")


def quantized_cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = False,
) -> DataFrame:
    """Quantize-then-score convenience over float inputs: quantizes the
    corpus inline (map-only) and delegates to
    :func:`quantized_topk_from_codes`.  For repeated querying, persist
    ``quantize_int8(corpus)`` once and call the codes form directly."""
    corpus = quantize_int8(embeddings, vec_col).select(id_col, "q_vec")
    return quantized_topk_from_codes(
        corpus,
        queries,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        exclude_self=exclude_self,
    )


# ------------------------------------------------------------------ PQ
# Product quantization (Jégou/Douze/Schmid, "Product Quantization for
# Nearest Neighbor Search", IEEE TPAMI 2011 — public paper): the
# compression tier BELOW int8.  int8 cuts a
# 64-dim float64 vector 512→64 bytes; PQ cuts it to m CODES (m=8 →
# 8 bytes, 64×) by splitting the vector into m subspaces and snapping
# each subvector to its nearest entry in a tiny per-subspace codebook.
# Scoring never reconstructs: ADC (asymmetric distance computation)
# precomputes, per query, the dot of the query's subvector with every
# codebook entry — a m×ksub lookup table — and a corpus vector's score
# is m table lookups + adds.  At 100 TB this is what makes exhaustive
# re-rank candidate generation affordable: the scan reads m bytes per
# vector and the kernel does no multiplies at all.
#
# Everything here runs over int8 CODES (quantize_int8 output), so
# distances, argmins, LUT entries, and approximate norms are exact
# 64-bit integers — bit-for-bit reproducible in the DuckDB oracle,
# same contract as the int8 kernel above.


def pq_codebooks_from_codes(
    codes: DataFrame,
    m: int = 4,
    ksub: int = 16,
    id_col: str = "vec_id",
    code_col: str = "q_vec",
) -> list[list[list[int]]]:
    """Per-subspace codebooks from the corpus's own int8 codes —
    deterministic seed rule (the ksub lowest-id vectors, split into m
    subvectors), mirroring ``similarity.ivf_centroids``: reproducible
    and oracle-checkable; swap in :func:`pq_codebooks_kmeans` for the
    learned variant and nothing downstream changes.

    Returns ``cb[s][c]`` = centroid c of subspace s (ints).

    NULL codes are skipped (a NULL vector has no subvectors to train
    on — the same contract as ``pq_encode``, which emits NULL codes
    for them); the seed rule is therefore the ksub lowest-id NON-NULL
    vectors.
    """
    if not 2 <= ksub <= 128:
        raise ValueError(f"ksub must be in [2, 128] (tinyint codes), got {ksub}")
    rows = (
        codes.select(id_col, code_col)
        # NULL-element codes cannot seed (int(None) would kill the
        # driver).  quantize_int8 no longer emits them (r12), but this
        # trainer accepts arbitrary stored code frames — pre-fix
        # indexes may still carry the shape.
        .where(
            F.col(code_col).isNotNull()
            & ~F.exists(F.col(code_col), lambda x: x.isNull())
        )
        .orderBy(id_col)
        .limit(ksub)
        .collect()
    )
    if not rows:
        raise ValueError("pq_codebooks_from_codes: no non-NULL codes in corpus")
    dim = len(rows[0][1])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    return [
        [[int(v) for v in r[1][s * d : (s + 1) * d]] for r in rows]
        for s in range(m)
    ]


def pq_codebooks_kmeans(
    embeddings: DataFrame,
    m: int = 4,
    ksub: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 5,
) -> list[list[list[int]]]:
    """Learned per-subspace codebooks: MLlib k-means|| on each
    subvector slice of the int8-quantized corpus, centroids rounded
    back to ints so the integer ADC kernel (and its oracle) apply
    unchanged.  m small fits over projected slices — each fit scans
    one narrow projection, no join."""
    try:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector
    except ImportError as e:  # pragma: no cover - mllib ships with pyspark
        raise NotImplementedError(f"pyspark.ml unavailable: {e}") from e

    if not 2 <= ksub <= 128:
        raise ValueError(f"ksub must be in [2, 128] (tinyint codes), got {ksub}")
    q = quantize_int8(embeddings, vec_col).filter(
        # NULL-element containment: see pq_codebooks_from_codes
        F.col("q_vec").isNotNull()
        & ~F.exists(F.col("q_vec"), lambda x: x.isNull())
    )
    first = q.select(F.size("q_vec").alias("n")).first()
    if first is None:
        raise ValueError("pq_codebooks_kmeans: empty corpus (or all-NULL vectors)")
    dim = first["n"]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    books: list[list[list[int]]] = []
    for s in range(m):
        sub = q.select(
            array_to_vector(
                F.slice(F.transform("q_vec", lambda x: x.cast("double")), s * d + 1, d)
            ).alias("features")
        )
        model = KMeans(k=ksub, seed=seed + s, maxIter=max_iter).fit(sub)
        books.append([[int(round(float(v))) for v in c] for c in model.clusterCenters()])
    return books


def _lit_ints(vals: list[int]) -> Column:
    # one expr, not len(vals) F.lit round-trips (see the SQL-string
    # note below — same driver plan-assembly economics)
    if not vals:
        return F.array()
    return F.expr("array({})".format(", ".join(str(int(v)) for v in vals)))


# The m·ksub distance/dot kernels below are generated as ONE SQL string
# per output column and handed to F.expr: building the same tree out of
# nested Column operations costs thousands of py4j round-trips and
# seconds of DRIVER time per query construction (measured 3.5 s for the
# encode tree alone at m=4, ksub=16), where the parser takes the whole
# string in a single call.  Execution is identical either way.


def _bigint_slice_sql(col: str, start: int, d: int) -> str:
    return f"slice(transform({col}, t -> cast(t AS bigint)), {start}, {d})"


def _int_array_sql(vals: list[int]) -> str:
    return "array(" + ", ".join(str(int(v)) for v in vals) + ")"


def pq_encode(
    codes: DataFrame,
    codebooks: list[list[list[int]]],
    id_col: str = "vec_id",
    code_col: str = "q_vec",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Encode int8 codes to PQ: ``pq_code[s] = argmin_c ||sub_s(v) −
    cb[s][c]||²`` (exact integer distances, ties to the lower centroid
    index) plus ``pq_norm_sq = Σ_s ||cb[s][pq_code[s]]||²`` — the
    reconstruction's squared norm, carried so ADC cosine needs no
    second pass.

    Map-only (one projection per row, no shuffle); the m·ksub distance
    aggregations are JVM-side integer HOFs.  NULL input vectors yield
    NULL codes."""
    m, ksub, d = len(codebooks), len(codebooks[0]), len(codebooks[0][0])
    if ksub > 128:
        raise ValueError(
            f"ksub={ksub} > 128 would wrap in the tinyint pq_code; retrain with ksub <= 128"
        )
    norms_sq = [[sum(v * v for v in c) for c in book] for book in codebooks]

    def argmin_sql(s: int) -> str:
        structs = ", ".join(
            "named_struct('d', aggregate(zip_with("
            f"_sub{s}, {_int_array_sql(codebooks[s][c])}, "
            "(x, y) -> (x - y) * (x - y)), cast(0 AS bigint), (a, v) -> a + v), "
            f"'c', {c})"
            for c in range(ksub)
        )
        return f"element_at(array_sort(array({structs})), 1).c"

    carry = list(carry_cols or [])
    with_subs = codes.select(
        id_col,
        code_col,
        *carry,
        *[
            F.expr(_bigint_slice_sql(code_col, s * d + 1, d)).alias(f"_sub{s}")
            for s in range(m)
        ],
    )
    encoded = with_subs.select(
        id_col,
        *carry,
        # NULL-element codes encode NULL, not a fabricated centroid-0
        # (r12 review: a NULL element NULLed every subspace distance and
        # the argmin tie-break picked c=0 with a positive pq_norm_sq —
        # a garbage-but-finite ADC cosine that could displace true
        # top-k neighbors).  quantize_int8 no longer emits the shape;
        # this guards stored pre-fix codes.
        F.when(
            F.col(code_col).isNotNull()
            & ~F.exists(F.col(code_col), lambda x: x.isNull()),
            F.array(*[F.expr(argmin_sql(s)).cast("tinyint") for s in range(m)]),
        ).alias("pq_code"),
    )
    norm_tables = F.array(*[_lit_ints(norms_sq[s]) for s in range(m)])
    return encoded.withColumn(
        "pq_norm_sq",
        F.when(
            F.col("pq_code").isNotNull(),
            F.aggregate(
                F.zip_with(
                    "pq_code",
                    norm_tables,
                    lambda c, tbl: F.element_at(tbl, c.cast("int") + 1),
                ),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ),
        ),
    )


def _pq_query_luts(
    queries: DataFrame,
    codebooks: list[list[list[int]]],
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Per-query ADC state: (query_id, _qn int8-code norm, _lut
    array<array<bigint>> of m×ksub subvector·centroid integer dots) —
    computed once per query row, broadcast by the callers."""
    m, ksub, d = len(codebooks), len(codebooks[0]), len(codebooks[0][0])

    def lut_sql() -> str:
        per_sub = []
        for s in range(m):
            dots = ", ".join(
                f"aggregate(zip_with(_qsub{s}, {_int_array_sql(codebooks[s][c])}, "
                "(x, y) -> x * y), cast(0 AS bigint), (a, v) -> a + v)"
                for c in range(ksub)
            )
            per_sub.append(f"array({dots})")
        return "array(" + ", ".join(per_sub) + ")"

    return (
        quantize_int8(queries, vec_col)
        .select(
            query_id_col,
            "q_vec",
            *[
                F.expr(_bigint_slice_sql("q_vec", s * d + 1, d)).alias(f"_qsub{s}")
                for s in range(m)
            ],
        )
        .select(
            query_id_col,
            qnorm("q_vec").alias("_qn"),
            F.expr(lut_sql()).alias("_lut"),
        )
    )


def pq_adc_topk(
    encoded: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[int]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = False,
) -> DataFrame:
    """Approximate cosine top-k by ADC over a PQ-encoded corpus.

    Per query (float in, int8-quantized on the fly): LUT[s][c] =
    sub_s(q)·cb[s][c] — m·ksub integer dots computed ONCE per query,
    broadcast.  Per corpus row: score = Σ_s LUT[s][pq_code[s]] — m
    array lookups, zero multiplies; cosine divides by the exact
    integer-derived norms (√pq_norm_sq · ‖q‖).  Same plan shape as
    every top-k here: corpus scanned once, queries broadcast,
    WindowGroupLimit partial top-k, ties to the lower vec_id.
    """
    from pyspark.sql import Window

    q = _pq_query_luts(queries, codebooks, vec_col, query_id_col)
    adc = F.aggregate(
        F.zip_with(
            "pq_code", "_lut", lambda c, tbl: F.element_at(tbl, c.cast("int") + 1)
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    sim = F.when(
        (F.col("pq_norm_sq") > 0) & (F.col("_qn") > 0),
        adc.cast("double") / (F.sqrt(F.col("pq_norm_sq").cast("double")) * F.col("_qn")),
    ).otherwise(F.lit(0.0))
    scored = encoded.join(F.broadcast(q)).select(
        query_id_col, id_col, F.round(sim, 6).alias("cosine_sim")
    )
    if exclude_self:
        scored = scored.filter(F.col(id_col) != F.col(query_id_col))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"), F.asc(id_col))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k).drop("rnk")


def pq_topk_rerank(
    embeddings: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[int]]],
    encoded: DataFrame | None = None,
    k: int = 10,
    rerank_factor: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = False,
) -> DataFrame:
    """Two-stage retrieve→re-rank — how PQ is actually deployed: the
    m-byte ADC scan nominates ``k·rerank_factor`` candidates per query
    (reads pq_code only, never the vectors), then the exact float
    kernel re-scores JUST those candidates and keeps k.  Recall lost to
    code collisions comes back in the re-rank while the full-precision
    column is read for ~k·factor rows per query instead of the corpus.

    The candidate→vector join shuffles only the candidate ids (tiny);
    at 100 TB the float fetch is the point — PQ turns "scan 512 bytes ×
    N" into "scan m bytes × N + fetch 512 bytes × k·factor".
    """
    from pyspark.sql import Window

    from .similarity import cosine_with_norms, norm

    enc = (
        encoded
        if encoded is not None
        else pq_encode(
            quantize_int8(embeddings, vec_col).select(id_col, "q_vec"), codebooks, id_col=id_col
        )
    )
    cands = pq_adc_topk(
        enc,
        queries,
        codebooks,
        k=k * rerank_factor,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        exclude_self=exclude_self,
    ).select(query_id_col, id_col)
    corpus = embeddings.select(id_col, vec_col, norm(vec_col).alias("_n"))
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qvec"), norm(vec_col).alias("_qn")
    )
    rescored = (
        cands.join(corpus, id_col)
        .join(F.broadcast(q), query_id_col)
        .select(
            query_id_col,
            id_col,
            F.round(
                cosine_with_norms(vec_col, "_qvec", "_n", "_qn"), 6
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"), F.asc(id_col))
    return rescored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k).drop("rnk")


# --------------------------------------------------------------- IVF-PQ
def ivf_pq_index(
    embeddings: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The IVF-PQ index — the FAISS IVFPQ architecture on DataFrames:
    a float coarse quantizer partitions the corpus into inverted lists
    (similarity.ivf_index) and PQ codes replace the vectors INSIDE the
    lists.  Result: (id, centroid_id, pq_code, pq_norm_sq) — m bytes +
    a list id per vector, the shape a 100 TB corpus can actually keep
    hot.

    Build is one pass: the assignment output still carries the vector,
    so quantize+encode run map-only on it (``carry_cols`` threads
    centroid_id through the encoder — no build-side join).  Persist or
    write the result once; serve with :func:`ivf_pq_topk`.
    """
    from .similarity import ivf_index

    assign = ivf_index(embeddings, centroids, id_col=id_col, vec_col=vec_col)
    codes = quantize_int8(assign, vec_col).select(id_col, "centroid_id", "q_vec")
    return pq_encode(codes, codebooks, id_col=id_col, carry_cols=["centroid_id"])


def ivf_pq_topk(
    index: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[list[int]]],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = False,
) -> DataFrame:
    """Serve path over an IVF-PQ index: per query, rank the (broadcast)
    float codebook and keep ``nprobe`` lists; equi-join the inverted
    lists on centroid_id; ADC-score the probed rows (m integer lookups
    each, zero multiplies); window top-k.

    Per-query cost is O(n·nprobe/nlist) LOOKUPS over m-byte codes —
    both dials compound: IVF bounds which rows are touched, PQ bounds
    the bytes per touched row.  Recall lost to code collisions is
    recovered the standard way: raise k here and exact-re-rank the
    candidates (see pq_topk_rerank for the pattern).
    """
    from pyspark.sql import Window

    from .similarity import _codebook_df, _rank_centroids

    codebook = _codebook_df(index, centroids)
    probes = _rank_centroids(
        queries.select(query_id_col, F.col(vec_col).alias("_qvec")),
        codebook,
        "_qvec",
        keep=nprobe,
        key_cols=[query_id_col],
    ).select(query_id_col, "centroid_id")
    luts = _pq_query_luts(queries, codebooks, vec_col, query_id_col)
    probe_state = F.broadcast(probes.join(luts, query_id_col))
    adc = F.aggregate(
        F.zip_with(
            "pq_code", "_lut", lambda c, tbl: F.element_at(tbl, c.cast("int") + 1)
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    sim = F.when(
        (F.col("pq_norm_sq") > 0) & (F.col("_qn") > 0),
        adc.cast("double") / (F.sqrt(F.col("pq_norm_sq").cast("double")) * F.col("_qn")),
    ).otherwise(F.lit(0.0))
    scored = index.join(probe_state, "centroid_id").select(
        query_id_col, id_col, F.round(sim, 6).alias("cosine_sim")
    )
    if exclude_self:
        scored = scored.filter(F.col(id_col) != F.col(query_id_col))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"), F.asc(id_col))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k).drop("rnk")


def auto_rerank_factor(k: int, target_candidates: int = 500) -> int:
    """Rerank-depth dial: nominate ~``target_candidates`` per query —
    with a floor of 5× overfetch, so for k > ``target_candidates``/5 the
    candidate count is 5·k, not the flat target (k=200 → 1000, k=1000 →
    5000).  The floor is deliberate: re-ranking exactly k candidates is
    a no-op, and a thin margin re-admits the collision-group failure
    mode below at large k — so the cost claim is precisely
    ``max(target_candidates, 5k)`` float fetches per query,
    corpus-size-free in n but linear in k past k = target/5.
    The failure mode the target sizes against: ADC cannot
    order rows whose codes collide, and near-duplicate GROUPS (the
    thing a training corpus is full of) collide as a block — if the
    group is bigger than k·factor, the true top-k may not be nominated
    at all.  Measured on the family-packed 200k corpus: factor 5 (50
    candidates) → recall@10 0.52, factor 20 → 0.95, factor 50 (500) →
    1.00, at FLAT cost (2.6 s → 2.3 s — the float fetch touches
    k·factor rows per query, corpus-size-free).  500 covers collision
    groups two orders of magnitude beyond k while keeping the fetch
    trivial; raise it if your corpus has bigger identical-code blocks."""
    import math

    return max(5, math.ceil(target_candidates / max(k, 1)))


def ivf_pq_topk_rerank(
    index: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[list[int]]],
    embeddings: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    rerank_factor: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = False,
) -> DataFrame:
    """IVF-PQ serve with the retrieve→re-rank stage — the full FAISS
    deployment shape: the ADC pass over the probed inverted lists
    nominates ``k·rerank_factor`` candidates per query, then the exact
    float kernel re-scores JUST those candidates and keeps k.

    Why this exists as a first-class path: ADC recall is
    corpus-geometry-bound — on the family-packed 100× bench corpus the
    4×16 subquantizer cells are coarser than the spacing between
    perturbed near-copies, and raw IVF-PQ recall@10 collapses to ~0.13
    (BENCH_SCALE.json `ivf_indexed_auto`, 200k vectors) while plain IVF
    holds ≥0.96.  Re-ranking restores it (measured ≥0.9 at the same
    200k row) at the cost PQ was designed to make cheap: the
    full-precision column is fetched for k·factor rows per query
    instead of the corpus — "scan m bytes × probed + fetch d floats ×
    k·factor", both terms corpus-size-free under the √n IVF dials.

    ``embeddings`` is the full-precision source the candidate ids join
    back to (in production, the parquet the index was built from —
    the join touches only the candidate rows).  ``rerank_factor=None``
    (default) sizes the candidate set by :func:`auto_rerank_factor` —
    ~500 per query, enough to out-span the identical-code blocks that
    near-duplicate groups form (factor 5 left recall at 0.52 on the
    200k bench corpus; the auto dial reads 1.00 at the same cost)."""
    from pyspark.sql import Window

    from .similarity import cosine_with_norms, norm

    if rerank_factor is None:
        rerank_factor = auto_rerank_factor(k)
    cands = ivf_pq_topk(
        index,
        queries,
        centroids,
        codebooks,
        k=k * rerank_factor,
        nprobe=nprobe,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        exclude_self=exclude_self,
    ).select(query_id_col, id_col)
    corpus = embeddings.select(id_col, vec_col, norm(vec_col).alias("_n"))
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qvec"), norm(vec_col).alias("_qn")
    )
    rescored = (
        cands.join(corpus, id_col)
        .join(F.broadcast(q), query_id_col)
        .select(
            query_id_col,
            id_col,
            F.round(
                cosine_with_norms(vec_col, "_qvec", "_n", "_qn"), 6
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"), F.asc(id_col))
    return rescored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k).drop("rnk")
