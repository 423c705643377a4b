"""Incremental near-duplicate dedup — the daily-increment production
shape: dedup a NEW batch of documents against an already-accepted corpus
without ever recomputing the corpus.

At 100 TB the one-shot pipeline (operators/dedup.py) runs once; from
then on data arrives in increments that are tiny next to the corpus.
Re-running LSH over corpus+increment per day is O(corpus) daily — the
index makes it O(increment): the corpus is represented by a persisted
MinHash *band index* (one row per document per band: ``(doc_id,
band_idx, band_key, sig)``), each increment band-joins against it,
verifies candidates with the MinHash Jaccard estimate, and appends its
own band rows for the next increment.

Policy — identical to the one-shot pipeline's pair rule (drop the
higher id of every matching pair, ``curate_corpus``):

- a new doc is rejected iff it matches (estimate ≥ threshold) any
  INDEXED doc or any LOWER-ID doc of its own increment;
- the index grows by ALL of the increment's band rows, accepted or
  not — a rejected duplicate must keep disqualifying its future
  copies, exactly as it would under one big batch (indexing only
  survivors would let the third copy of a near-dup pair back in);
- ids must be globally monotone across increments (ingestion order —
  the natural id assignment).  Under that contract, any split of a
  corpus into increments yields bit-identical accepted sets
  (``test_incremental_dedup_matches_one_shot`` pins it, including the
  chain case a~b, b~c, a≁c).

Verification here is the MinHash ESTIMATE (fraction of agreeing
signature components — deterministic, E[est]=J, granularity
1/num_hashes), not exact shingle Jaccard: the index stores 8·k bytes
per doc, never text, so an increment joins against signatures alone.
Exact-verify pipelines pass the accepted set on to
``ngram_jaccard_pairs`` against their own text store.

Scale shape: everything is a banded equi-join keyed on (band_idx,
band_key).  Persist the index through operators/index_store.py — it
writes the rows partitioned by a hash prefix of those keys and prunes
each serve's read to the increment's touched buckets, which is what
makes per-increment cost O(increment) in SCAN as well as in shuffle —
and carries the build parameters in a metadata sidecar validated on
every open.  The estimate is a codegen'd sum of k element-equality
casts over the carried signature arrays (indexed access, not an
interpreted per-row HOF).
"""

from __future__ import annotations

import operator
from functools import reduce
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import band_key_array, minhash_signatures


def minhash_band_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Band-index rows for a corpus: ``(id_col, band_idx, band_key,
    sig array<bigint>)`` — ``bands`` rows per document that has at least
    one shingle (sub-shingle docs produce none, matching
    :func:`minhash_signatures`; pair them with exact dedup upstream).
    Bootstrap the index with this over the accepted corpus, then append
    each :func:`incremental_dedup` result's ``index_rows``."""
    if num_hashes % bands != 0:
        raise ValueError(f"bands ({bands}) must divide num_hashes ({num_hashes})")
    sig = minhash_signatures(docs, text_col, id_col, num_hashes)
    return sig.select(
        F.col(id_col),
        F.posexplode(band_key_array(num_hashes, bands)).alias("band_idx", "band_key"),
        # one expr, not k unrolled F.col calls (driver plan-assembly
        # cost — r13 serve-floor profiler)
        F.expr("array({})".format(", ".join(f"h{i}" for i in range(num_hashes)))).alias(
            "sig"
        ),
    )


class IncrementalDedupResult(NamedTuple):
    accepted: DataFrame    # new_docs rows that survive the dedup
    index_rows: DataFrame  # band rows for ALL new docs — append to the index


def _est(sig_a: str, sig_b: str, num_hashes: int) -> Column:
    """MinHash Jaccard estimate between two signature arrays (named by
    qualified column REFERENCE, e.g. ``"n.sig"``) as a codegen'd sum of
    element-equality casts (GetArrayItem stays in whole-stage codegen;
    zip_with/aggregate would run interpreted per RAW joined row — the
    trap documented in minhash_lsh_candidates).

    Built as ONE ``F.expr`` string, not per-term Column ops: each
    Column operation is a py4j round-trip, and at 16 hashes the unrolled
    ``getItem/==/cast`` chain cost ~265 ms of pure DRIVER plan-assembly
    time per join site — over half the persisted-serve latency floor for
    a small increment (r13 per-phase serve profile).  The
    parsed tree is identical (same GetArrayItem equality sum, same NULL
    propagation), so executor-side codegen is unchanged."""
    terms = " + ".join(
        f"CAST({sig_a}[{i}] = {sig_b}[{i}] AS INT)" for i in range(num_hashes)
    )
    return F.expr(f"CAST(({terms}) AS DOUBLE) / {num_hashes}")


def _validate_band_params(
    index: DataFrame, num_hashes: int, bands: int, index_meta: dict | None
) -> None:
    """Build-param validation for a band index.  With ``index_meta``
    (the persisted sidecar, operators/index_store.py) it is a pure
    driver-side dict compare — ZERO Spark actions, which is what lets
    the streaming sink validate every micro-batch for free.  Without
    meta (a raw DataFrame index) it falls back to one metadata-scale
    probe covering BOTH axes: signature width for ``num_hashes`` and
    max band_idx for ``bands`` (every indexed doc emits all its bands,
    so a non-empty index realizes band_idx = bands−1).  Either way a
    mismatch raises — silently it would produce zero candidates and
    admit every duplicate."""
    if index_meta is not None:
        bad = []
        if index_meta.get("num_hashes") != num_hashes:
            bad.append(f"num_hashes: index={index_meta.get('num_hashes')} caller={num_hashes}")
        if index_meta.get("bands") != bands:
            bad.append(f"bands: index={index_meta.get('bands')} caller={bands}")
        if bad:
            raise ValueError(
                "index metadata mismatch (" + ", ".join(bad) + ") — use the stored "
                "build parameters or rebuild the index"
            )
        return
    probe = index.agg(
        F.max(F.size("sig")).alias("w"), F.max("band_idx").alias("mb")
    ).first()
    if probe is None or probe["w"] is None:
        return  # empty index — nothing to contradict
    if probe["w"] != num_hashes:
        raise ValueError(
            f"index stores {probe['w']}-hash signatures, caller asked for "
            f"{num_hashes} — rebuild the index or match its parameters"
        )
    if probe["mb"] + 1 != bands:
        raise ValueError(
            f"index was built with {probe['mb'] + 1} bands, caller asked for "
            f"{bands} — band keys would never align (zero candidates, every "
            "duplicate admitted); match the index's build parameters"
        )


def _reject(
    new_docs: DataFrame,
    index: DataFrame,
    new_rows: DataFrame,
    id_col: str,
    keys: tuple[str, ...],
    score,
) -> IncrementalDedupResult:
    """The policy body every increment kind shares (see the module
    docstring): a new row is rejected iff ``score`` keeps its pair with
    an INDEXED row on the same ``keys`` (index ids are lower by the
    monotone-id contract) or with a LOWER-ID row of its own increment;
    ``accepted`` is ``new_docs`` minus the rejects, and the index grows
    by ALL of ``new_rows``.  ``score(pairs, l, r, ids)`` filters the
    joined pairs (sides aliased ``l``/``r``) and returns ``ids``.

    ``new_rows`` is the caller's: it is read by both joins and by
    whoever appends ``index_rows``, so a caller consuming both returned
    frames materializes it first (the index_store serves, the streaming
    sinks and the declared queries all do)."""

    def on(l: str, r: str) -> Column:
        return reduce(
            operator.and_, [F.col(f"{l}.{k}") == F.col(f"{r}.{k}") for k in keys]
        )

    n, x = new_rows.alias("n"), index.alias("x")
    vs_index = score(n.join(x, on("n", "x")), "n", "x", F.col(f"n.{id_col}"))
    a, b = new_rows.alias("a"), new_rows.alias("b")
    within = score(
        a.join(b, on("a", "b") & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))),
        "a",
        "b",
        F.col(f"b.{id_col}"),
    )
    rejected = vs_index.union(within).distinct()
    accepted = new_docs.join(rejected, id_col, "left_anti")
    return IncrementalDedupResult(accepted=accepted, index_rows=new_rows)


def incremental_dedup(
    new_docs: DataFrame,
    index: DataFrame,
    new_rows: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    est_threshold: float = 0.8,
    index_meta: dict | None = None,
) -> IncrementalDedupResult:
    """Dedup ``new_docs`` against the persisted band ``index`` (schema of
    :func:`minhash_band_index`) and against lower-id docs of the same
    increment.  See the module docstring for the policy and its
    one-shot-parity guarantee.

    ``new_rows`` are the increment's band rows —
    ``minhash_band_index(new_docs, ...)`` under the index's build
    parameters, or an id-slice of one materialized full-corpus band pass
    (banding is a per-document map).  ``num_hashes``/``bands`` MUST
    match the values the index was built with — validated by
    :func:`_validate_band_params` (driver-side dict compare when
    ``index_meta`` is passed, one metadata-scale probe otherwise); a
    mismatch raises rather than silently producing zero candidates.
    """
    _validate_band_params(index, num_hashes, bands, index_meta)

    def score(pairs: DataFrame, l: str, r: str, ids: Column) -> DataFrame:
        return pairs.where(_est(f"{l}.sig", f"{r}.sig", num_hashes) >= est_threshold).select(ids)

    return _reject(new_docs, index, new_rows, id_col, ("band_idx", "band_key"), score)


def fingerprint_index(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact-dedup index rows: one ``(id_col, fp)`` per document, where
    ``fp`` is the 64-bit normalized-text fingerprint ``exact_dedup``
    groups on.  8 bytes per doc — the exact-dup complement of
    :func:`minhash_band_index` (which only sees docs with ≥1 shingle)."""
    from .text import fingerprint

    return docs.select(F.col(id_col), fingerprint(text_col).alias("fp"))


def incremental_exact_dedup(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> IncrementalDedupResult:
    """Exact dedup of an increment against a persisted fingerprint
    index (schema of :func:`fingerprint_index`) plus min-id dedup within
    the increment — same policy and same one-shot parity contract as
    :func:`incremental_dedup`, at exact-duplicate granularity.  The
    returned ``index_rows`` again cover ALL increment docs (an exact dup
    of a rejected doc is an exact dup of that doc's own match, so
    survivor-only indexing happens to stay correct here — but appending
    everything keeps the two indexes row-aligned and the policy uniform).

    Scale shape: one map-side fingerprint pass over the increment, one
    semi-join against the index on the 8-byte fp (broadcast the
    increment's fingerprints when the index is the big side), one
    groupBy-min within the increment."""
    new_fp = fingerprint_index(new_docs, text_col, id_col)
    vs_index = new_fp.join(index.select("fp"), "fp", "left_semi").select(F.col(id_col))
    w_min = new_fp.groupBy("fp").agg(F.min(id_col).alias("_keep"))
    within = (
        new_fp.join(w_min, "fp")
        .where(F.col(id_col) != F.col("_keep"))
        .select(F.col(id_col))
    )
    rejected = vs_index.union(within).distinct()
    accepted = new_docs.join(rejected, id_col, "left_anti")
    return IncrementalDedupResult(accepted=accepted, index_rows=new_fp)


def embedding_bucket_index(
    embeddings: DataFrame,
    dims: int = 64,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    center: list[float] | None = None,
) -> DataFrame:
    """Embedding near-dup index rows: ``(id_col, bucket, q_vec, q_norm)``
    — the sign-random-projection LSH bucket (same fixed hyperplane
    family as ``lsh_bucketed_pairs``: derived from (dims, n_planes)
    alone, so increments bucket identically forever) plus the int8 code
    and its precomputed norm.  ~(dims + 16) bytes per vector instead of
    8·dims float64 — the index for a 1B-vector corpus fits a fraction
    of the raw embeddings.

    Corrupt vectors (NULL / empty / NaN / Inf — and wrong-LENGTH finite
    vectors, which are just as corrupt: ``dot``'s zip_with NULL-pads a
    length mismatch, every sign bit falls to its otherwise(0) arm, and
    all such rows would pile into bucket 0) carry NULL codes (the
    ``quantize_int8`` containment contract, except wrong-length which
    codes fine but buckets NULL) and a NULL bucket: a NULL bucket never
    equi-joins, so they can't match, can't BE matched, and — the scale
    point — can't pile into one hot bucket (a NULL dot product signs
    every bit 0, so without the guard every corrupt vector of a 1B-row
    corpus would land in bucket 0 and cross-join against its honest
    residents).  Degraded, not poisonous.

    For real (anisotropic) embedding corpora pass ``center``
    (:func:`~.similarity.embedding_center` over the BOOTSTRAP corpus):
    uncentered sign buckets collapse onto the two all-same-sign codes
    (measured 20% of a 200k corpus in one bucket).  The center is part
    of the bucket function — persist it with the index and pass the
    SAME value for every increment, like ``dims``/``n_planes``."""
    from .quantize import qnorm, quantize_int8
    from .similarity import lsh_bucket, random_hyperplanes

    planes = random_hyperplanes(dims, n_planes)
    coded = quantize_int8(embeddings, vec_col)
    # interior-NULL elements (r12 review): a right-LENGTH vector with a
    # NULL element passes both prior guards (array_max skips NULLs, so
    # q_vec stays non-NULL) but its dot is NULL, every sign bit falls
    # to otherwise(0), and all such rows would pile into bucket 0 —
    # the exact hot-bucket poison the guard exists to contain.  The
    # exists() probe sends them to the NULL bucket with the rest.
    return coded.select(
        F.col(id_col),
        F.when(
            F.expr(
                f"q_vec IS NOT NULL AND size(`{vec_col}`) = {int(dims)}"
                f" AND NOT exists(`{vec_col}`, x -> x IS NULL)"
            ),
            lsh_bucket(vec_col, planes, center),
        ).alias("bucket"),
        F.col("q_vec"),
        qnorm("q_vec").alias("q_norm"),
    )


# r14 (guide §4.2): the serve-path pair filters spent ~12 µs/pair in
# the interpreted aggregate(zip_with) HOF — ~3 s per 250k-pair serve
# join at sf0.1, and the dominant term of the sem_inc/retract arms.
# The join itself is cheap (measured 0.105 s for the same 242k pairs);
# scoring now streams the joined pairs through ONE mapInArrow stage
# that hands whole Arrow batches to NumPy: int64 einsum dot (exact —
# same integer sums as qdot), then the identical IEEE-double
# ``d / (a_norm * b_norm) >= t`` decision.  Measured 2.96 s → 0.68 s
# on the within-join at sf0.1 with a bit-identical reject set.  The
# join strategy/shape is untouched (same broadcast equi-join, no new
# shuffle — deliberately NOT a cogroup, which would re-shuffle the
# pre-partitioned index side by cell on every serve), and the node is
# Arrow-batched (MapInArrow), which the plan audit allows.  The
# relational ``aggregate(zip_with)`` filter it replaced is the reference
# of the scorer's equivalence test.
def _qcos_reject_ids(
    pairs: DataFrame,
    id_col: Column,
    a_vec: Column,
    b_vec: Column,
    a_norm: Column,
    b_norm: Column,
    threshold: float,
    out_name: str,
    out_type: str,
) -> DataFrame:
    proj = pairs.select(
        id_col.alias(out_name),
        a_vec.alias("_av"),
        b_vec.alias("_bv"),
        a_norm.alias("_an"),
        b_norm.alias("_bn"),
    )
    thr = float(threshold)

    def score(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            ids = batch.column(0)
            if len(batch) == 0:
                yield pa.record_batch([ids], names=[out_name])
                continue
            av, bv = batch.column(1), batch.column(2)
            an = batch.column(3).to_numpy(zero_copy_only=False)
            bn = batch.column(4).to_numpy(zero_copy_only=False)
            fa, fb = av.flatten(), bv.flatten()
            la = np.asarray(av.value_lengths())
            lb = np.asarray(bv.value_lengths())
            if (
                av.null_count == 0
                and bv.null_count == 0
                and fa.null_count == 0
                and fb.null_count == 0
                and la.min() == la.max() == lb.min() == lb.max()
            ):
                w = int(la[0])
                A = fa.to_numpy(zero_copy_only=False).astype(np.int64).reshape(-1, w)
                B = fb.to_numpy(zero_copy_only=False).astype(np.int64).reshape(-1, w)
                d = np.einsum("ij,ij->i", A, B).astype(np.float64)
                ok = (an > 0) & (bn > 0)  # NULL norms arrive as NaN → False
                keep = np.zeros(len(d), dtype=bool)
                keep[ok] = (d[ok] / (an[ok] * bn[ok])) >= thr
            else:
                # degenerate batch (NULL/ragged codes — excluded upstream
                # by the NULL-bucket convention, kept correct here):
                # zip_with over unequal lengths or interior NULLs makes
                # the JVM dot NULL → the filter DROPS the pair; replay
                # that decision row-wise
                apy, bpy = av.to_pylist(), bv.to_pylist()
                keep = np.zeros(len(batch), dtype=bool)
                for i in range(len(batch)):
                    x, y = apy[i], bpy[i]
                    if (
                        x is None
                        or y is None
                        or len(x) != len(y)
                        or any(e is None for e in x)
                        or any(e is None for e in y)
                        or not (an[i] > 0 and bn[i] > 0)
                    ):
                        continue
                    dd = float(sum(int(p) * int(q) for p, q in zip(x, y)))
                    keep[i] = dd / (an[i] * bn[i]) >= thr
            yield pa.record_batch([ids.filter(pa.array(keep))], names=[out_name])

    return proj.mapInArrow(score, f"{out_name} {out_type}")


def _qcos_score(new_rows: DataFrame, id_col: str, threshold: float):
    """The embed/semantic pair scorer for :func:`_reject`: the int8
    cosine over the stored codes and norms of both sides."""
    idt = new_rows.schema[id_col].dataType.simpleString()

    def score(pairs: DataFrame, l: str, r: str, ids: Column) -> DataFrame:
        return _qcos_reject_ids(
            pairs,
            ids,
            F.col(f"{l}.q_vec"),
            F.col(f"{r}.q_vec"),
            F.col(f"{l}.q_norm"),
            F.col(f"{r}.q_norm"),
            threshold,
            id_col,
            idt,
        )

    return score


def _validate_embed_params(
    index: DataFrame,
    dims: int,
    n_planes: int,
    center: list[float] | None,
    index_meta: dict | None,
) -> None:
    """Build-param validation for an embedding bucket index.  With
    ``index_meta`` (the sidecar) all three axes — dims, n_planes, and
    the CENTER — compare driver-side with zero Spark actions; the
    center is bit-part-of-the-bucket-function, so equality is exact.
    Without meta, one metadata-scale probe checks what the data can
    attest: stored code width (= dims) and bucket range (< 2^n_planes).
    The probe CANNOT detect a center drift or an n_planes downgrade
    whose buckets happen to stay in range — persist indexes through
    index_store to get the full contract."""
    if index_meta is not None:
        bad = []
        if index_meta.get("dims") != dims:
            bad.append(f"dims: index={index_meta.get('dims')} caller={dims}")
        if index_meta.get("n_planes") != n_planes:
            bad.append(f"n_planes: index={index_meta.get('n_planes')} caller={n_planes}")
        if index_meta.get("center") != center:
            bad.append("center: differs from the index's build-time value")
        if bad:
            raise ValueError(
                "embedding index metadata mismatch (" + ", ".join(bad) + ") — a "
                "mismatched bucket function silently empties every bucket join; "
                "use the stored build parameters (index_store.open_embedding_index)"
            )
        return
    probe = index.agg(
        F.max(F.size("q_vec")).alias("d"), F.max("bucket").alias("mb")
    ).first()
    if probe is None or probe["d"] is None:
        return
    if probe["d"] != dims:
        raise ValueError(
            f"index stores {probe['d']}-dim codes, caller asked for {dims} — "
            "rebuild the index or match its parameters"
        )
    if probe["mb"] is not None and probe["mb"] >= (1 << n_planes):
        raise ValueError(
            f"index holds bucket {probe['mb']} ≥ 2^{n_planes} — it was built "
            f"with more than {n_planes} planes; match the index's build parameters"
        )


def semantic_cell_index(
    embeddings: DataFrame,
    cells: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic-dedup index rows: ``(id_col, cell, q_vec, q_norm)`` —
    the k-means cell from ``cells``, an ``(id_col, cell)`` assignment
    (operators/semantic.py: :func:`~.semantic.semantic_cell_assign`
    through a finished run's assigner tree, or the bootstrap Lloyd
    run's own final assignment), plus the int8 code and its norm, the
    same deterministic scoring payload as :func:`embedding_bucket_index`.
    Corrupt vectors (NULL / empty / NaN / Inf / wrong-length /
    NULL-element) have no cell in the assignment and carry a NULL cell —
    never equi-join, never pair, never pile into a hot cell — mirroring
    the NULL-bucket convention; the q_vec payload quantizes
    ``embeddings`` itself, so they keep riding the index."""
    from .quantize import qnorm, quantize_int8

    coded = quantize_int8(embeddings, vec_col)
    return coded.join(cells, id_col, "left").select(
        F.col(id_col),
        F.col("cell").cast("int").alias("cell"),
        F.col("q_vec"),
        qnorm("q_vec").alias("q_norm"),
    )


def _validate_sem_params(dims: int, k: int | None, index_meta: dict | None) -> None:
    """Build-param validation for a semantic cell index — sidecar-only
    (the assigner tree cannot be attested from the data, so a raw
    DataFrame index has no probe fallback; persist through
    index_store.create_semantic_index to get the contract)."""
    if index_meta is None:
        return
    bad = []
    if index_meta.get("dims") != dims:
        bad.append(f"dims: index={index_meta.get('dims')} caller={dims}")
    if k is not None and index_meta.get("k") != k:
        bad.append(f"k: index={index_meta.get('k')} caller={k}")
    if bad:
        raise ValueError(
            "semantic index metadata mismatch (" + ", ".join(bad) + ") — a "
            "mismatched assigner re-cells the increment and silently empties "
            "every cell join; use the stored build parameters"
        )


def incremental_semantic_near_dup(
    new_embeddings: DataFrame,
    index: DataFrame,
    new_rows: DataFrame,
    tree,
    threshold: float = 0.9,
    dims: int = 64,
    id_col: str = "vec_id",
    index_meta: dict | None = None,
) -> IncrementalDedupResult:
    """SemDeDup for an increment against the persisted cell index
    (schema of :func:`semantic_cell_index`) — the third member of the
    incremental-dedup triad, same policy as the band/embed siblings
    (reject on match vs index or vs a lower-id increment row; the index
    grows by ALL increment rows; monotone ids across increments ⇒ any
    split of a post-bootstrap stream accepts a bit-identical set,
    because cells are FIXED by the bootstrap tree and scoring is the
    deterministic int8 cosine over stored codes on both sides).
    ``new_rows`` are the increment's cell-index rows, routed through
    ``tree`` (:func:`semantic_cell_index` over
    ``semantic_cell_assign(..., tree)``); ``tree`` and ``dims`` are
    validated against ``index_meta``.

    Semantic nuance the other two don't have: the cells themselves are
    a function of the BOOTSTRAP corpus — increments are placed into
    existing cells (one assigner-tree pass, no Lloyd re-run), so the
    partition slowly drifts from what a fresh clustering of the grown
    corpus would produce.  That is the standard IVF trade; the store
    exposes an occupancy dial (index_store.semantic_recluster_due) to
    trigger a rebuild when drift passes it.

    Scale shape: per-cell equi-joins only; the index is pre-partitioned
    by a hash prefix of ``cell`` so a fixed increment touches a bounded
    set of buckets (index_store pruned read), and assignment is
    O(d·64·⌈log₆₄ k⌉) per increment row — serve cost is flat in the
    corpus up to the log factor."""
    _validate_sem_params(dims, None, index_meta)
    # the ASSIGNER itself is validated, not just its dials (r12
    # review): a caller holding yesterday's tree while the sink's
    # recluster_when_due rebuilt the index overnight passes the
    # dims/k check, re-cells the increment against the new index's
    # cell ids, empties every cell equi-join, and silently ACCEPTS
    # every duplicate — the exact class the error below names.  The
    # sidecar stores the tree JSON, so the compare is driver-side free.
    if index_meta is not None and "tree" in index_meta:
        from .semantic import tree_to_json

        if tree_to_json(tree) != index_meta["tree"]:
            raise ValueError(
                "semantic index metadata mismatch (assigner tree differs "
                "from the sidecar's) — a mismatched assigner re-cells the "
                "increment and silently empties every cell join; rehydrate "
                "the tree from the index meta (semantic.tree_from_json)"
            )
    return _reject(
        new_embeddings, index, new_rows, id_col, ("cell",),
        _qcos_score(new_rows, id_col, threshold),
    )


def incremental_embed_near_dup(
    new_embeddings: DataFrame,
    index: DataFrame,
    new_rows: DataFrame,
    threshold: float = 0.9,
    dims: int = 64,
    n_planes: int = 8,
    id_col: str = "vec_id",
    center: list[float] | None = None,
    index_meta: dict | None = None,
) -> IncrementalDedupResult:
    """Embedding-cosine near-dup dedup of an increment against the
    persisted bucket index (schema of :func:`embedding_bucket_index`) —
    the vector-space sibling of :func:`incremental_dedup`, same policy
    (reject on match vs index or vs a lower-id increment row; index
    grows by ALL increment rows; monotone ids across increments — any
    split then accepts a bit-identical set).  ``new_rows`` are the
    increment's ``embedding_bucket_index(new_embeddings, dims, n_planes,
    ..., center)`` rows.

    Scoring is the deterministic int8 cosine over the STORED codes on
    both sides (the quantized score, not the float one — thresholds
    mean the same thing on day 1 and day 1000, and the increment's own
    rows are scored with exactly what gets indexed).  ``dims``/
    ``n_planes``/``center`` must be the index's build values — the
    hyperplane family is derived from them, and a mismatch silently
    empties every bucket join.  All three are validated by
    :func:`_validate_embed_params` (full driver-side contract with
    ``index_meta``, a weaker data probe without); the persisted path
    (index_store.serve_incremental_embed_near_dup) always passes the
    sidecar.

    Scale shape: per-bucket equi-joins only (the O(n·m) cross of
    increment×corpus never materializes), index pre-partitioned by
    ``bucket`` makes the daily join shuffle only the increment."""
    _validate_embed_params(index, dims, n_planes, center, index_meta)
    return _reject(
        new_embeddings, index, new_rows, id_col, ("bucket",),
        _qcos_score(new_rows, id_col, threshold),
    )
