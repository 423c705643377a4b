"""Deduplication operators over ``documents`` — exact, MinHash+LSH,
SimHash, n-gram Jaccard, and embedding-cosine near-dup (the
training-data-pipeline extension; absent from the reference).

Design for 100 TB:
- exact dedup is a single hash-groupBy on a 64-bit fingerprint (never
  on the raw text — the shuffle carries 8 bytes + keys, not documents).
- MinHash/LSH turns all-pairs similarity into an equi-join on band
  keys: shingle → K minhashes → B bands → explode(B rows/doc) →
  self-join on (band_idx, band_hash).  Shuffle volume is B rows per
  doc, candidate comparison is per-bucket, never O(n²).
- SimHash reduces a document to one 64-bit code; near-dup candidates
  share a code (or a rotated band of it).
- md5-based hashing throughout the *declared queries* so the DuckDB
  oracle can reproduce values exactly; the library also exposes the
  faster xxhash64 variants for production use.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import fingerprint, shingles, tokens  # noqa: F401 — shingles re-exported (moved to text.py for repetition_profile)


# ------------------------------------------------------------- exact
def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the min-id representative per normalized-text
    fingerprint.  One shuffle on the 64-bit fingerprint."""
    return (
        docs.withColumn("_fp", fingerprint(text_col))
        .groupBy("_fp")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
        .drop("_fp")
    )


# MinHash hash family: ONE portable base hash per shingle (md5 hex →
# 60-bit int, identical in Spark and DuckDB), then k affine derivations
# (a_i·h + b_i) mod P.  The classic parameterized family — and 16×
# cheaper than 16 seeded md5 passes per shingle, which profiling showed
# dominated the whole dedup chain.  All operands stay < P ≈ 2^30, so
# a_i·h < 2^60 never overflows BIGINT on either engine.
MINHASH_P = 1_000_000_007


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for the affine family (a_i ≠ 0)."""
    return [
        ((i * 1_000_003 + 12_345) % MINHASH_P or 1, (i * 789_617 + 67_891) % MINHASH_P)
        for i in range(num_hashes)
    ]


def _shingle_base_hash(col: Column) -> Column:
    """md5(shingle) → first 15 hex chars → bigint, mod P.  Portable:
    DuckDB reproduces it with a hex-digit CASE ladder (ml_queries)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint") % MINHASH_P


def minhash_signature(text: Column | str, num_hashes: int = 16, shingle_n: int = 3) -> Column:
    """MinHash signature as a single Column expression (array of bigint,
    length num_hashes; NULLs when the document has no shingles).

    NOTE: column-expression form only — higher-order functions run on
    Spark's interpreted path with NO common-subexpression elimination,
    so every reference to this column re-hashes every shingle.  The
    distributed hot path is :func:`minhash_signatures` (explode +
    partial-aggregate), which hashes each shingle exactly once.
    """
    sh = shingles(text, shingle_n)

    def affine(a: int, b: int):
        # closure, not a default arg: a (s, a=a) lambda has arity 2 and
        # PySpark would pass the element INDEX into it (HOF arity dispatch)
        return lambda s: (_shingle_base_hash(s) * a + b) % MINHASH_P

    return F.array(
        *[F.array_min(F.transform(sh, affine(a, b))) for a, b in minhash_params(num_hashes)]
    )


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signatures, distributed shape: explode shingles to rows,
    md5-hash each shingle ONCE, derive the k family values with codegen'd
    integer arithmetic, take per-function mins with a hash aggregate
    (map-side partial min → k values per doc cross the shuffle, never
    the shingles).  Parallelism comes from the shuffle, independent of
    input file count.  Documents with no shingles produce no row (they
    can't be near-dup candidates).

    Returns (id_col, h0..h{k-1}) as bigint.
    """
    sh = docs.select(F.col(id_col), F.explode(shingles(text_col, shingle_n)).alias("_sh"))
    based = sh.select(id_col, _shingle_base_hash(F.col("_sh")).alias("_hv"))
    # ONE selectExpr, not k unrolled Column chains: per-Column ops are
    # py4j round-trips and the k·3-op affine family cost ~0.3 s of pure
    # driver plan-assembly per call site (r13 serve-floor profiler).
    # The parsed tree — and so executor codegen — is identical; all
    # operands < 2^30 so a·h < 2^60 never overflows BIGINT (ANSI-safe).
    hashed = based.selectExpr(
        f"`{id_col}`",  # backticked: selectExpr PARSES names ('doc-id',
        #                 'order' would break where F.col handled them)
        *[
            f"(_hv * {a} + {b}) % {MINHASH_P} AS h{i}"
            for i, (a, b) in enumerate(minhash_params(num_hashes))
        ],
    )
    return hashed.groupBy(id_col).agg(
        *[F.expr(f"min(h{i}) AS h{i}") for i in range(num_hashes)]
    )


def band_key_array(num_hashes: int, bands: int) -> Column:
    """Array of ``bands`` 64-bit band keys over signature columns
    ``h0..h{num_hashes-1}``: band key = xxhash64 of the band's minhash
    concat.  A join on these yields the same pair set as joining the raw
    band tuples (a 64-bit collision only ADDS a stray candidate — LSH
    candidates are verified downstream anyway) while the shuffle carries
    8-byte keys instead of rows_per_band×32-char hex.  Shared by
    :func:`minhash_lsh_candidates` and the incremental band index
    (operators/incremental.py) — both sides of an incremental join must
    derive keys identically or no candidate ever matches."""
    rows_per_band = num_hashes // bands
    # one expr string (same parsed tree) — the unrolled
    # xxhash64/concat_ws/cast Column chains were ~0.2 s of driver
    # plan-assembly per call site (r13 serve-floor profiler)
    keys = ", ".join(
        "xxhash64(concat_ws('|', {}))".format(
            ", ".join(
                f"CAST(h{b * rows_per_band + r} AS STRING)"
                for r in range(rows_per_band)
            )
        )
        for b in range(bands)
    )
    return F.expr(f"array({keys})")


def minhash_lsh_candidates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    with_estimate: bool = False,
) -> DataFrame:
    """LSH candidate pairs: docs sharing ≥1 band of the MinHash
    signature.  Returns (id_a, id_b) with id_a < id_b, distinct.

    Scale shape: explode to `bands` rows/doc → equi-join on
    (band_idx, band_key) → pair dedup.  The self-join is banded so each
    bucket is tiny; skewed buckets (boilerplate) are handled by AQE
    skew-join splitting (measured in tests/test_operators.py —
    test_lsh_hot_band_aqe_skew_split).

    ``with_estimate`` adds ``est_jaccard`` — the MinHash Jaccard
    estimate (fraction of agreeing hash functions, the textbook
    single-hash estimator: E[est] = J, granularity 1/num_hashes).  The
    signature rides THROUGH the banded join as k scalar columns (8·k
    bytes per banded row next to the 8-byte band key), so the estimate
    costs zero extra shuffles and zero signature recomputation, and the
    agreement count is a codegen'd sum of k integer equality casts —
    NOT an array zip_with/aggregate, which runs interpreted per RAW
    joined row (pre-dedup: a mega-bucket of b docs emits O(b²) rows)
    and measured 4× the whole dedup chain on a near-dup-rich 10×
    corpus.  It is the cheap upper stage of the verify pre-filter
    (``ngram_jaccard_pairs(prefilter_margin=...)``), which prunes
    low-estimate candidates before the expensive shingle-set
    intersection ever touches them.
    """
    if num_hashes % bands != 0:
        # Silently dropping the remainder hash functions would change the
        # effective LSH S-curve without warning (same check as
        # simhash_hamming_pairs' divisibility guard).
        raise ValueError(f"bands ({bands}) must divide num_hashes ({num_hashes})")
    sig = minhash_signatures(docs, text_col, id_col, num_hashes)
    carry = [F.col(f"h{i}") for i in range(num_hashes)] if with_estimate else []
    banded = sig.select(
        id_col,
        *carry,
        F.posexplode(band_key_array(num_hashes, bands)).alias("band_idx", "band_key"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    joined = a.join(
        b,
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    )
    if not with_estimate:
        return joined.select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        ).distinct()
    # one expr string, not k unrolled ==/cast Column chains (driver
    # plan-assembly py4j cost — r13 serve-floor profiler); same tree
    agree = " + ".join(
        f"CAST(a.h{i} = b.h{i} AS INT)" for i in range(num_hashes)
    )
    # est is a pure function of the pair, so distinct over the triple
    # dedups exactly like the pair form
    return joined.select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.expr(f"CAST(({agree}) AS DOUBLE) / {num_hashes}").alias("est_jaccard"),
    ).distinct()


# ------------------------------------------------------------- jaccard
def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
    allow_all_pairs: bool = False,
    prefilter_margin: float | None = None,
    prune_docs: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs (verification
    stage after LSH; all-pairs only for bounded inputs).  Jaccard is
    computed on DISTINCT shingle sets via array_intersect/union HOFs.

    At scale, always pass LSH ``candidates`` — the exact verify then
    touches O(candidates), not O(n²).  ``candidates=None`` is an O(n²)
    cross join and must be opted into with ``allow_all_pairs=True``.

    ``prefilter_margin`` enables the MinHash-estimate pre-filter:
    ``candidates`` must carry ``est_jaccard``
    (``minhash_lsh_candidates(with_estimate=True)``) and only pairs with
    ``est_jaccard >= threshold - margin`` reach the exact verify — the
    cheap k-int comparison prunes shingle-set intersections for
    candidates the estimate puts well below the threshold.  This is a
    RECALL/COST DIAL, not an exact transform: the estimate is unbiased
    with std ≈ √(J(1−J)/k), so a true pair at J ≥ t is lost with
    probability P(Binom(k, J) < k·(t−m)) — at k=16, t=0.8, m=0.35
    that is ~2.6e-4 per boundary pair, i.e. negligible per-pair but
    NONZERO in aggregate (measured: 3 of 245k verified pairs missed on
    the 10× corpus, 242 of 3.6M at 100× — BENCH_SCALE.json
    ``minhash_prefilter`` records the recall next to the timing).  The
    hash family is deterministic, so which pairs a given corpus loses
    is a fixed fact, not a per-run flake.  How much it SAVES depends on
    candidate precision: with mostly-true-positive candidates (dup-
    dense corpora, high-precision band configs) almost nothing is
    prunable and the arm costs ≈ the plain verify; with low-precision
    candidates (recall-tuned banding, e.g. 8 bands × 2 rows) the bulk
    of the verify work disappears.  Exact work keeps
    ``prefilter_margin=None``.
    """
    if candidates is None and not allow_all_pairs:
        raise ValueError(
            "candidates=None runs an O(n^2) all-pairs cross join; pass LSH "
            "candidates (minhash_lsh_candidates) or set allow_all_pairs=True "
            "for bounded inputs"
        )
    if prefilter_margin is not None:
        if candidates is None or "est_jaccard" not in candidates.columns:
            raise ValueError(
                "prefilter_margin requires candidates carrying est_jaccard — "
                "use minhash_lsh_candidates(with_estimate=True)"
            )
        candidates = candidates.filter(
            F.col("est_jaccard") >= threshold - prefilter_margin
        )
    if candidates is not None and "est_jaccard" in candidates.columns:
        candidates = candidates.drop("est_jaccard")
    # r14 (guide §3.2 semi-join pre-filter): only docs that appear in a
    # candidate pair need their shingle sets, and the two id-joins below
    # each stream a FULL shingle pass over ``docs`` otherwise.  With the
    # prune, the verify touches O(candidate docs) — at sf0.1 that is
    # ~200 of 5000 docs, and at 100 TB it is the difference between
    # re-shingling the corpus twice and re-shingling the dup-suspect
    # sliver.  Opt-in because it evaluates ``candidates`` one extra
    # time (for the id list) — callers should pass a MATERIALIZED
    # candidates frame (localCheckpoint; pair sets are tiny by the LSH
    # contract), which both call sites in this repo now do.
    if candidates is not None and prune_docs:
        cand_ids = (
            candidates.select(F.col("id_a").alias(id_col))
            .union(candidates.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        docs = docs.join(F.broadcast(cand_ids), id_col, "left_semi")
    # distinct-set sizes ride along so the pair stage runs ONE array op
    # (intersect); |A∪B| = |A|+|B|-|A∩B| — exact for distinct sets, and
    # a full per-pair array_union pass cheaper (HOF ops don't share work)
    sh = docs.select(
        F.col(id_col), F.array_distinct(shingles(text_col, shingle_n)).alias("sh")
    ).withColumn("sz", F.size("sh"))
    if candidates is None:
        a, b = sh.alias("a"), sh.alias("b")
        pairs = a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}")).select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
    else:
        pairs = (
            candidates.join(
                sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a").withColumnRenamed("sz", "sz_a"),
                "id_a",
            ).join(
                sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b").withColumnRenamed("sz", "sz_b"),
                "id_b",
            )
        )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.col("sz_a") + F.col("sz_b") - inter
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
    return pairs.select("id_a", "id_b", F.round(jac, 4).alias("jaccard")).filter(F.col("jaccard") >= threshold)


# ------------------------------------------------------------ curation
def curate_corpus(
    docs: DataFrame,
    banded: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.5,
    jaccard_threshold: float = 0.8,
    persist_gated: bool = True,
    group_collapse: bool = False,
) -> DataFrame:
    """The full training-data curation pipeline as one composition:

    1. profile + gate: quality ≥ ``min_quality`` AND a detected language
    2. exact dedup: keep the min-id doc per normalized-text fingerprint
       (a window filter — one shuffle on the fingerprint, no self-join)
    3. near-dup removal: MinHash-LSH candidates → exact n-gram Jaccard ≥
       ``jaccard_threshold`` → drop the higher id of every pair

    ``banded`` is the MATERIALIZED band index of ``docs``
    (incremental.minhash_band_index, same ``text_col``/``id_col``, at
    the caller's num_hashes/bands).  Band rows are a per-document map
    of the text, so the gated set's rows are a semi-join SLICE of it:
    candidates are one id equi-join + the banded self-join, and a plan
    that also serves increments pays the shingle→md5→min chain once
    (r14, guide §2.4: q_corpus_curation _build 2.63→~1.7 s at sf0.1).

    Returns the surviving rows of ``docs`` plus the profile columns.
    Every stage is a shuffle-bounded relational plan (hash aggregates
    and banded equi-joins — nothing quadratic, nothing driver-side), so
    the composition scales like its parts.

    ``persist_gated`` caches the gated+exact-deduped working set, which
    THREE downstream consumers re-read (LSH banding, Jaccard verify,
    final anti-join).  Unpersisted, Catalyst plans the profile
    explode+aggregate once PER consumer — measured 20 scans of the
    source in the static plan, ~2x the whole chain's runtime.  At the
    100 TB design point this materialization is the difference between
    reading the corpus once and four times; the cache lives for the
    session (MEMORY_AND_DISK, evicted LRU) — callers running many
    curations should unpersist via ``spark.catalog.clearCache()`` or
    pass ``persist_gated=False`` to keep the plan fully lazy.
    """
    from pyspark.sql import Window

    from .text import profile_documents

    prof = profile_documents(docs, text_col, id_col).filter(
        (F.col("quality") >= min_quality) & F.col("detected_lang").isNotNull()
    )
    w = Window.partitionBy("doc_fingerprint")
    s1 = (
        prof.withColumn("_min_id", F.min(id_col).over(w))
        .filter(F.col(id_col) == F.col("_min_id"))
        .drop("_min_id")
    )
    if persist_gated:
        s1 = s1.persist()

    # candidate pairs materialized (r14, guide §3.2): tiny by the LSH
    # contract, and pinning them lets prune_docs restrict the verify's
    # two shingle-set passes to docs that appear in a pair instead of
    # re-shingling the whole gated corpus twice
    bb = banded.join(s1.select(id_col), id_col, "left_semi").select(
        id_col, "band_idx", "band_key"
    )
    ba, b2 = bb.alias("a"), bb.alias("b")
    cands = (
        ba.join(
            b2,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    near = ngram_jaccard_pairs(
        s1,
        text_col,
        id_col,
        threshold=jaccard_threshold,
        candidates=cands,
        prune_docs=True,
    )
    if group_collapse:
        # transitive: connected components over the verified pairs, one
        # min-id survivor per GROUP.  Differs from pair-drop when the
        # pair set is not transitively closed — pairs (1,3),(2,3) keep
        # {1,2} under pair-drop (1 and 2 were never verified similar)
        # but {1} here (they share a component through 3).  Collapse is
        # the aggressive production choice for contamination control;
        # pair-drop removes only documents with a VERIFIED near-dup.
        from .components import connected_components

        comp = connected_components(near, id_a="id_a", id_b="id_b")
        removed = comp.where(F.col("node") != F.col("component")).select(
            F.col("node").alias(id_col)
        )
    else:
        removed = near.select(F.col("id_b").alias(id_col)).distinct()
    return s1.join(removed, id_col, "left_anti")


# ------------------------------------------------------------- simhash
def simhash64(text: Column | str, bits: int = 16, shingle_n: int = 1) -> Column:
    """SimHash over token (or shingle) md5s: bit b of the code is the
    sign of Σ_tokens (±1 per token depending on bit b of md5(token)).

    ``bits`` defaults to 16 (not 64) to keep the all-HOF expression tree
    compact; each bit is one conv(substr(md5)) + aggregate.  No UDF, no
    shuffle — a map-only projection.
    """
    sh = F.array_distinct(shingles(text, shingle_n)) if shingle_n > 1 else F.array_distinct(tokens(text))
    # per-token 64-bit value from the first 15 hex chars (fits a long)
    hv = lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("bigint")  # noqa: E731

    def bit_sum(b: int):
        # NB: bind b via closure, NOT a default arg — PySpark dispatches
        # HOF lambdas on arity, so (a, t, b=b) would be mis-read as a
        # 3-arg merge function.
        return lambda a, t: a + F.when(F.shiftright(hv(t), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)

    acc = [F.aggregate(sh, F.lit(0), bit_sum(b)) for b in range(bits)]
    code = None
    for b, s in enumerate(acc):
        bit = F.when(s > 0, F.lit(2**b).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        code = bit if code is None else code + bit
    return code


def simhash_codes(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    shingle_n: int = 1,
) -> DataFrame:
    """SimHash codes, distributed shape (same values as
    :func:`simhash64`): explode distinct tokens to rows, md5 each token
    ONCE, then one hash-aggregate computes all per-bit ±1 sums
    (map-side partial).  The column-expression form re-hashes every
    token per bit on the interpreted HOF path — 16× the work and zero
    parallelism on single-file inputs.

    Token-less documents get code 0 (the empty-aggregate value of the
    column form), restored via left join.
    """
    base = (
        F.array_distinct(shingles(text_col, shingle_n))
        if shingle_n > 1
        else F.array_distinct(tokens(text_col))
    )
    tok = docs.select(F.col(id_col), F.explode(base).alias("_t"))
    hv = F.conv(F.substring(F.md5("_t"), 1, 15), 16, 10).cast("bigint")
    hashed = tok.select(id_col, hv.alias("_hv"))
    # expr strings, not per-bit Column chains: the unrolled
    # sum-when/shiftright aggregations plus the code-reconstruction loop
    # were ~200 py4j round-trips of driver plan-assembly at bits=16
    # (r13 serve-floor profiler); parsed trees are identical
    sums = hashed.groupBy(id_col).agg(
        *[
            F.expr(
                f"SUM(CASE WHEN (SHIFTRIGHT(_hv, {b}) & 1) = 1 "
                f"THEN 1 ELSE -1 END) AS s{b}"
            )
            for b in range(bits)
        ]
    )
    code = " + ".join(
        f"CASE WHEN s{b} > 0 THEN CAST({2 ** b} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END"
        for b in range(bits)
    )
    coded = sums.select(id_col, F.expr(code).alias("simhash"))
    return (
        docs.select(id_col)
        .join(coded, id_col, "left")
        .select(id_col, F.coalesce("simhash", F.lit(0).cast("bigint")).alias("simhash"))
    )


def auto_simhash_bits(
    n_docs: int, max_hamming: int = 2, target_bucket_size: int = 200, floor_band_bits: int = 4
) -> int:
    """Code-size dial for :func:`simhash_hamming_pairs` — the same log2
    rule as ``similarity.auto_n_planes``: with ``max_hamming + 1`` bands,
    each band needs ~log2(n / target_bucket_size) bits to keep the
    expected band bucket at ``target_bucket_size`` (within-bucket join
    cost is O(bucket²)).  Returns total bits = band_bits × bands,
    capped at 63 rounded down to a multiple of bands (the code lives in
    one signed long).  E.g. 1e9 docs, hamming≤2 → 3×23 = 69 → 63 → 21
    bits/band (~2M buckets/band)."""
    from .similarity import auto_n_planes  # the one log2 sizing rule

    bands = max_hamming + 1
    band_bits = auto_n_planes(n_docs, target_bucket_size, floor=floor_band_bits)
    return min(band_bits * bands, 63 - 63 % bands)


def simhash_hamming_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 24,
    max_hamming: int = 2,
) -> DataFrame:
    """Hamming-k near-dup pairs via SimHash banding: split the code into
    ``max_hamming + 1`` bands — by pigeonhole, any pair within the
    hamming budget matches exactly on at least one band — equi-join on
    (band_idx, band_bits), then exact-filter with bit_count(xor).

    The all-pairs hamming scan becomes a banded equi-join, same scale
    shape as MinHash LSH.  ``bits`` must divide evenly into bands.
    Returns (id_a, id_b, hamming ≤ max_hamming).
    """
    n_bands = max_hamming + 1
    if bits % n_bands:
        raise ValueError(f"bits={bits} must be divisible by bands={n_bands}")
    width = bits // n_bands
    mask = (1 << width) - 1
    coded = simhash_codes(docs, text_col, id_col, bits)
    banded = coded.select(
        id_col,
        "simhash",
        F.posexplode(
            F.array(*[F.shiftright("simhash", b * width).bitwiseAND(F.lit(mask)) for b in range(n_bands)])
        ).alias("band_idx", "band_bits"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).cast("bigint")
    # A pair can share several bands; emit it only from the SMALLEST
    # shared band.  Both codes sit in the joined row, so "an earlier
    # band also matches" is a pure bit test on xor — a codegen'd filter
    # replaces the old distinct(), which shuffled the full close-pair
    # set (2.2M rows at sf0.1) through an extra Exchange+HashAggregate
    # just to drop the multi-band duplicates.
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    earlier_match = F.lit(False)
    for j in range(n_bands - 1):
        band_j_eq = F.shiftright(xor, j * width).bitwiseAND(F.lit(mask)) == 0
        earlier_match = earlier_match | (band_j_eq & (F.col("a.band_idx") > j))
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_bits") == F.col("b.band_bits"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter(~earlier_match)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


# ------------------------------------------------------- decontamination
def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 13,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Eval-set decontamination — the training-pipeline step that drops
    corpus documents overlapping a benchmark/eval set (the GPT-3/Pile/
    Llama recipe: flag any document sharing a word ``shingle_n``-gram
    with an eval document; 13 is the published default).

    Shape for 100 TB: eval sets are MB-scale next to the corpus, so the
    distinct eval shingle-hash set broadcasts and the check is a
    map-side hash join on the corpus's exploded shingles — one pass,
    one per-doc aggregation, no all-pairs anything.  Hashes are the
    60-bit md5 prefix (no mod-P fold): collision odds at 1e12 shingles
    are ~1e-5 per shingle, and a collision only ever over-flags.

    Returns one row per corpus document: (id, n_hits = distinct shared
    shingles, contaminated).  Documents shorter than ``shingle_n``
    tokens have no shingles and are never flagged (standard caveat —
    pair with exact-dedup for short-text overlap).
    """
    hash60 = lambda c: F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")  # noqa: E731

    def shingle_hashes(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col), F.explode(F.array_distinct(shingles(text_col, shingle_n))).alias("_s")
        ).select(id_col, hash60(F.col("_s")).alias("_h"))

    eval_h = shingle_hashes(eval_docs).select("_h").distinct()
    if broadcast_eval:
        eval_h = F.broadcast(eval_h)
    hits = shingle_hashes(docs).join(eval_h, "_h").groupBy(id_col).agg(
        F.count("*").alias("n_hits")
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_hits", F.lit(0).cast("bigint")).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )
