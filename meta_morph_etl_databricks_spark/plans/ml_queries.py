"""Declared queries for the LLM-data-pipeline extensions (BASELINE.json
north star): text analysis, deduplication, similarity search — each over
the ``documents`` / ``embeddings`` testdata tables with a DuckDB oracle.

Oracle strategy: the md5 'hash family' (portable across engines) drives
every hashing query; hex→int conversion uses a generated CASE expression
evaluated identically by both engines; vector math is done in DOUBLE on
both sides.  The faster xxhash64 production paths live in
operators/{text,dedup}.py and are exercised by tests instead.
"""

from __future__ import annotations

import math
import threading
import weakref
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import text as T
from ..localrel import literal_frame
from ..operators.components import connected_components
from ..operators.similarity import lsh_bucketed_pairs, random_hyperplanes
from ..session_cache import session_cached, session_evict
from ..sources.scans import _path_signature, read_parquet_table
from .registry import register

# Adaptive split targets (r14, guide §2.2): partition count =
# clamp(ceil(bytes / target), 1, defaultParallelism) — the flat
# defaultParallelism fan-out scheduled ~30 empty tasks per stage on the
# sub-MB sf0.1 tables (measured: q_dedup_ngram_jaccard 3.70→3.09 s at
# 16 parts, q_embed_near_dup_lsh 12.1→9.6 s at 8, q_text_profile
# 1.14→0.88 s) while the 10×/100× corpora still hit the full-core cap.
# Targets differ by compute density: md5-per-shingle text hashing is
# heavier per byte than int8 vector math.
_DOCS_PART_BYTES = 32 << 10
_EMB_PART_BYTES = 96 << 10


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with hash-heavy-map parallelism (see read_parquet_table)."""
    return read_parquet_table(
        spark,
        sf_dir,
        "documents",
        min_partitions=spark.sparkContext.defaultParallelism,
        target_partition_bytes=_DOCS_PART_BYTES,
    )


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_parquet_table(
        spark,
        sf_dir,
        "embeddings",
        min_partitions=spark.sparkContext.defaultParallelism,
        target_partition_bytes=_EMB_PART_BYTES,
    ).select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"), "label")


# ------------------------------------------------------------------ text
# The oracle spells whitespace with the engine's explicit class
# (T.WS_CLASS): Java's \s includes \x0B, RE2's does not — a bare '\s+'
# here diverges from tokens()/fingerprint() on the first vertical tab
# (pinned by the fingerprint-class parity property test).  Case folding
# is likewise ASCII-only on both sides (T.ascii_lower): the engines'
# lower() disagree on Turkish 'İ' and Greek final sigma.
_WS = T.WS_CLASS


def _ascii_lower(expr: str) -> str:
    return f"translate({expr}, '{T._UPPER}', '{T._LOWER}')"
_TOKS = rf"list_filter(regexp_split_to_array(trim(text), '[{_WS}]+'), t -> t <> '')"
_LANGS_DESC = sorted(T.LANG_MARKERS, reverse=True)  # tie-break: lex-last wins


def _hits_sql(markers: list[str]) -> str:
    arr = ", ".join(f"'{m}'" for m in markers)
    return f"len(list_filter({_TOKS}, t -> list_contains([{arr}], {_ascii_lower('t')})))"


_LANG_CASE = (
    "CASE WHEN "
    + " + ".join(f"h_{lang}" for lang in T.LANG_MARKERS)
    + " = 0 THEN NULL "
    + " ".join(f"WHEN h_{lang} = m THEN '{lang}'" for lang in _LANGS_DESC)
    + " END"
)

def _hex15_to_bigint(expr: str) -> str:
    """First 15 hex chars → bigint, DuckDB side: a '0x'-prefixed string
    cast, which DuckDB evaluates natively and bit-identically to Spark's
    ``conv(substr(md5(x),1,15), 16, 10)`` (verified: both yield
    648541476951500027 for md5('abc')).  Replaces an earlier 15-step
    per-hex-digit CASE ladder that dominated oracle runtime."""
    return f"(('0x' || substr({expr}, 1, 15)))::BIGINT"


# ---- PII hash gate.  The synthetic corpus carries no PII (audited:
# zero '@' / 7-digit runs at sf0.01), so redact_pii on raw documents
# would pass vacuously.  The declared query therefore PLANTS one PII
# item per document, deterministically from doc_id, with the SAME
# concat expression on both sides (the planting is shared input, like
# the corpus itself) — then each engine runs its OWN redaction/count
# chain: Spark through operators/text.py (Java regex, leftmost-first),
# the oracle through an independently-written RE2 regexp_replace /
# regexp_extract_all chain.  Residues 0–6 plant one item of one kind
# each (every kind covered); residue 7 is the no-PII control — so
# per-kind counts are pinned to the planting rate (≈1/8 of docs each)
# and the redacted-text fingerprint hash-gates every replacement byte.
# tools/gen_scale.py plants the SAME tails into the scale corpora so
# the 10×/100× audits see the same known rates.
# (residue, literal prefix, id-derived middle, literal suffix)
_PII_PLANTS: list[tuple[int, str, str, str]] = [
    (0, " reach user", "id", "@example.com"),
    (1, " v6 2001:db8:85a3:42:8a2e:370:7334:", "mod4", ""),
    (2, " from 10.", "mod200", ".3.7"),
    (3, " ssn 123-45-", "mod4", ""),
    (4, " card 411111111111", "mod4", ""),
    (5, " call +1415555", "mod4", ""),
    (6, " tel 555-867-", "mod4", ""),
]

# residue → planted kind, aligned with _PII_PLANTS (asserted by
# tests/test_text_pii.py's planted-rate check)
PII_PLANT_KINDS = ["email", "ipv6", "ipv4", "ssn", "card", "phone_intl", "phone_dashed"]


def pii_plant_tail(id_col: Column) -> Column:
    """The deterministic planted-PII tail for a document id (Spark) —
    shared by the declared query and tools/gen_scale.py so test and
    scale corpora plant at the same known rates."""
    mids = {
        "id": id_col.cast("string"),
        "mod4": (F.lit(1000) + id_col % 9000).cast("string"),
        "mod200": (id_col % 200).cast("string"),
    }
    plant = F.lit("")
    for res, pre, mid, suf in _PII_PLANTS:
        plant = F.when(
            id_col % 8 == res, F.concat(F.lit(pre), mids[mid], F.lit(suf))
        ).otherwise(plant)
    return plant


def _planted_text_col() -> Column:
    """documents.text with the deterministic planted PII tail (Spark)."""
    return F.concat(F.col("text"), pii_plant_tail(F.col("doc_id")))


def _planted_text_sql() -> str:
    mids = {
        "id": "CAST(doc_id AS VARCHAR)",
        "mod4": "CAST(1000 + doc_id % 9000 AS VARCHAR)",
        "mod200": "CAST(doc_id % 200 AS VARCHAR)",
    }
    whens = " ".join(
        f"WHEN {res} THEN '{pre}' || {mids[mid]} || '{suf}'"
        for res, pre, mid, suf in _PII_PLANTS
    )
    return f"text || (CASE doc_id % 8 {whens} ELSE '' END)"


def _pii_ctes() -> str:
    """The oracle's redaction replay: one CTE per PII kind, each
    counting kind k on the text with all EARLIER kinds already replaced
    (operators/text.py pii_counts precedence) then replacing it —
    RE2 regexp_extract_all/regexp_replace where the engine runs Java
    regexp_count/regexp_replace, over patterns written in the proven
    common subset (tests/test_text_pii.py byte-parity)."""
    kinds = list(T.PII_PATTERNS)
    ctes = [f"pii0 AS (SELECT doc_id, {_planted_text_sql()} AS t FROM documents)"]
    carried: list[str] = []
    for i, k in enumerate(kinds):
        p = T.PII_PATTERNS[k].replace("'", "''")
        prev = ", ".join(carried) + (", " if carried else "")
        ctes.append(
            f"pii{i + 1} AS (SELECT doc_id, {prev}"
            f"CAST(len(regexp_extract_all(t, '{p}')) AS INT) AS n_pii_{k}, "
            f"regexp_replace(t, '{p}', '<PII:{k}>', 'g') AS t FROM pii{i})"
        )
        carried.append(f"n_pii_{k}")
    total = " + ".join(carried)
    ctes.append(
        f"piif AS (SELECT doc_id, {', '.join(carried)}, {total} AS n_pii, "
        f"{_hex15_to_bigint('md5(t)')} AS redacted_fp FROM pii{len(kinds)})"
    )
    return ",\n".join(ctes)


_PII_COUNT_COLS = ", ".join(f"n_pii_{k}" for k in T.PII_PATTERNS)

_TEXT_PROFILE_ORACLE = f"""
WITH bigrams AS (
    SELECT doc_id, unnest(s) AS g
    FROM (SELECT doc_id, list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                                        i -> t[i] || ' ' || t[i+1]) AS s
          FROM (SELECT doc_id, {_TOKS} AS t FROM documents))
), per_gram AS (
    SELECT doc_id, g, COUNT(*) AS c FROM bigrams GROUP BY doc_id, g
), rep AS (
    SELECT doc_id, SUM(c) AS n_grams, MAX(c) AS topg, COUNT(*) AS dist
    FROM per_gram GROUP BY doc_id
), base AS (
    SELECT doc_id, lang, source,
           CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '\\w+|[^\\w{_WS}]')) AS BIGINT) AS n_bpe_tokens,
           {" , ".join(f"{_hits_sql(w)} AS h_{lang}" for lang, w in T.LANG_MARKERS.items())},
           CAST(length(text) AS DOUBLE) AS n_chars,
           CAST(length(regexp_replace(text, '[\\w{_WS}]', '', 'g')) AS DOUBLE) AS n_punct,
           CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS n_alpha
    FROM documents
), scored AS (
    SELECT *, greatest({", ".join(f"h_{lang}" for lang in T.LANG_MARKERS)}) AS m,
           CASE WHEN n_tokens > 0 THEN n_chars / n_tokens ELSE 0.0 END AS mwl,
           CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 1.0 END AS punct_ratio,
           CASE WHEN n_chars > 0 THEN n_alpha / n_chars ELSE 0.0 END AS alpha_ratio
    FROM base
),
{_pii_ctes()}
SELECT s.doc_id, lang, n_tokens, n_bpe_tokens,
       {_LANG_CASE} AS detected_lang,
       ROUND((CASE WHEN mwl >= 3 AND mwl <= 12 THEN 1.0 ELSE 0.0 END
              + (1.0 - punct_ratio) + alpha_ratio) / 3.0, 4) AS quality,
       ROUND(COALESCE(1.0 - CAST(dist AS DOUBLE) / CAST(n_grams AS DOUBLE), 0.0), 4) AS dup_gram_frac,
       ROUND(COALESCE(CAST(topg AS DOUBLE) / CAST(n_grams AS DOUBLE), 0.0), 4) AS top_gram_frac,
       {_PII_COUNT_COLS}, n_pii, redacted_fp
FROM scored s LEFT JOIN rep ON s.doc_id = rep.doc_id
              JOIN piif ON s.doc_id = piif.doc_id
"""


@register("q_text_profile", _TEXT_PROFILE_ORACLE)
def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: token counts (whitespace + BPE-ish regex),
    language-ID heuristic, quality score, since r5 the Gopher-style
    repetition signals (duplicate-bigram and top-bigram fractions —
    operators/text.py repetition_profile, two map-side-combining hash
    aggregations joined back on doc_id), and since r9 the PII scrub
    hash gate: per-kind counts + redacted-text fingerprint over the
    deterministically PLANTED corpus (see ``_PII_PLANTS`` — the raw
    corpus carries no PII, so the gate plants one item per doc from
    doc_id and each engine redacts with its own regex engine).  The
    whole PII block is a map-only projection — at 100 TB it rides the
    same scan as the profile, zero extra shuffle."""
    docs = _documents(spark, sf_dir)
    profile = T.profile_documents(docs).select(
        "doc_id", "lang", "n_tokens", "n_bpe_tokens", "detected_lang", "quality"
    )
    # sparse stats + left join: profile already covers every doc_id, so
    # the dense form's coverage join would re-scan documents a third time
    rep = T.repetition_profile(docs, dense=False).select(
        "doc_id", "dup_gram_frac", "top_gram_frac"
    )
    planted = docs.select("doc_id", _planted_text_col().alias("text"))
    pii = T.pii_profile(planted).select(
        "doc_id",
        *[F.col(f"pii.n_{k}").cast("int").alias(f"n_pii_{k}") for k in T.PII_PATTERNS],
        F.col("n_pii").cast("int").alias("n_pii"),
        F.conv(F.substring(F.md5("redacted"), 1, 15), 16, 10)
        .cast("bigint")
        .alias("redacted_fp"),
    )
    return (
        profile.join(rep, "doc_id", "left")
        .join(pii, "doc_id")
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            "n_bpe_tokens",
            "detected_lang",
            "quality",
            F.coalesce("dup_gram_frac", F.lit(0.0)).alias("dup_gram_frac"),
            F.coalesce("top_gram_frac", F.lit(0.0)).alias("top_gram_frac"),
            *[f"n_pii_{k}" for k in T.PII_PATTERNS],
            "n_pii",
            "redacted_fp",
        )
    )


@register(
    "q_text_lang_rollup",
    f"""
    WITH profiled AS ({_TEXT_PROFILE_ORACLE})
    SELECT lang, detected_lang, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(quality) AS min_quality, MAX(quality) AS max_quality
    FROM profiled GROUP BY lang, detected_lang
    """,
)
def q_text_lang_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion rollup: labeled vs detected language with
    token totals and quality extrema (order-independent aggregates)."""
    return (
        q_text_profile(spark, sf_dir)
        .groupBy("lang", "detected_lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.min("quality").alias("min_quality"),
            F.max("quality").alias("max_quality"),
        )
    )


# ----------------------------------------------------------------- dedup
_NORM_TEXT = f"trim(regexp_replace({_ascii_lower('text')}, '[{_WS}]+', ' ', 'g'))"


@register(
    "q_dedup_exact",
    f"""
    SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
    FROM documents GROUP BY {_NORM_TEXT}
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: min-id representative per normalized text.  The
    engine groups on a 64-bit fingerprint (8-byte shuffle keys); the
    oracle groups on the normalized text itself — identical groups."""
    return D.exact_dedup(read_parquet_table(spark, sf_dir, "documents")).select("doc_id", "dup_count")


_SHINGLES = f"""
    SELECT doc_id, list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS s
    FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
"""

_NUM_HASHES, _BANDS = 16, 4
_ROWS_PER_BAND = _NUM_HASHES // _BANDS

# affine MinHash family mirroring operators.dedup: base = md5(x) hex15
# → bigint mod P, family value i = (a_i*base + b_i) mod P — the base
# hash is computed ONCE per shingle on both engines.
_MH_BASE = f"({_hex15_to_bigint('md5(x)')} % {D.MINHASH_P})"

# base hash materialized ONCE per shingle in its own projection —
# inlining it into the 16 family lambdas would re-run md5 + the CASE
# ladder 16× per shingle (neither engine CSEs across lambdas)
_SIGS = f"""
    SELECT doc_id, [{", ".join(f"list_min(list_transform(hv, h -> (h * {a} + {b}) % {D.MINHASH_P}))" for a, b in D.minhash_params(_NUM_HASHES))}] AS sig
    FROM (SELECT doc_id, list_transform(s, x -> {_MH_BASE}) AS hv FROM ({_SHINGLES}))
"""

_BAND_STRUCTS = ", ".join(
    "struct_pack(b := {b}, k := {key})".format(
        b=b,
        key=" || '|' || ".join(
            f"CAST(sig[{b * _ROWS_PER_BAND + r + 1}] AS VARCHAR)" for r in range(_ROWS_PER_BAND)
        ),
    )
    for b in range(_BANDS)
)

_MINHASH_PAIRS = f"""
    WITH sigs AS ({_SIGS}),
    valid AS (SELECT * FROM sigs WHERE NOT list_contains(list_transform(sig, x -> x IS NULL), true)),
    banded AS (
        SELECT doc_id, (u).b AS band_idx, (u).k AS band_key
        FROM valid, UNNEST([{_BAND_STRUCTS}]) AS t(u)
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""


@register(
    "q_dedup_ngram_jaccard",
    f"""
    WITH RECURSIVE cand AS ({_MINHASH_PAIRS}),
    sets AS (SELECT doc_id, list_distinct(s) AS sh FROM ({_SHINGLES})),
    ver AS (
        SELECT c.id_a, c.id_b,
               ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                     / len(list_distinct(a.sh || b.sh)), 4) AS jaccard
        FROM cand c JOIN sets a ON c.id_a = a.doc_id JOIN sets b ON c.id_b = b.doc_id
        -- threshold the ROUNDED value, exactly like the engine
        -- (ngram_jaccard_pairs rounds to 4dp before its filter) and the
        -- q_corpus_curation oracle: an unrounded compare diverges on any
        -- pair with true jaccard in [t-5e-5, t) — reachable from ~800
        -- shared shingles up (u = 5i+1), i.e. guaranteed at corpus scale
        WHERE ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / len(list_distinct(a.sh || b.sh)), 4) >= 0.2
    ),
    sym AS (SELECT id_a AS u, id_b AS v FROM ver
            UNION SELECT id_b, id_a FROM ver),
    walk(n, r) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM sym)
        UNION
        SELECT s.v, w.r FROM walk w JOIN sym s ON s.u = w.n
    )
    SELECT 'candidates' AS variant, id_a, id_b, CAST(NULL AS DOUBLE) AS jaccard
    FROM cand
    UNION ALL
    SELECT 'verified' AS variant, id_a, id_b, jaccard FROM ver
    UNION ALL
    SELECT 'components' AS variant, n AS id_a, MIN(r) AS id_b,
           CAST(NULL AS DOUBLE) AS jaccard
    FROM walk GROUP BY n
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dup pipeline as a tagged union (one registry slot —
    the driver checks only the first 50 queries; formerly also
    registered as q_dedup_minhash_lsh):

    - ``variant='candidates'`` — MinHash+LSH recall stage: shingle → 16
      minhashes → 4 bands → band-key equi-self-join.  All-pairs
      similarity becomes a banded equi-join (SURVEY.md M6; the scale
      path for 100 TB dedup).  jaccard is NULL here.
    - ``variant='verified'`` — exact n-gram Jaccard precision stage over
      those candidates (threshold 0.2) — the cheap-recall /
      exact-precision shape every production dedup pipeline uses.
    - ``variant='components'`` — pairs→groups: distributed connected
      components (alternating large-star/small-star,
      operators/components.py) over the verified pairs; id_a = member,
      id_b = its component's min doc_id (the canonical representative).
      The oracle recomputes it with a recursive min-label CTE — fine at
      oracle scale, O(diameter · |component|²) at corpus scale, which
      is exactly why the Spark side iterates stars instead.
    """
    docs = _documents(spark, sf_dir)
    # candidates materialized FIRST (r14, guide §3.2): the verify stage
    # used to re-shingle ALL docs twice (once per id-join side); with
    # the pair set pinned (tiny by the LSH contract) the prune_docs
    # semi-join restricts both shingle passes to the ~4% of docs that
    # appear in a candidate pair.  One minhash chain total.
    cands = D.minhash_lsh_candidates(
        docs, num_hashes=_NUM_HASHES, bands=_BANDS
    ).localCheckpoint(eager=True)
    # ONE pass: score every candidate pair (threshold=-1 keeps all),
    # then per-row explode into its union arms — a plain unionByName of
    # the two stages would evaluate the whole minhash/banding/jaccard
    # subtree twice (verified: zero ReusedExchange in the executed plan).
    # The scored pairs are checkpointed ONCE here: the components arm is
    # iterative (its rounds are actions), so without this the minhash/
    # jaccard chain would run once to seed the edge set and AGAIN when
    # the returned union is collected.  Pair sets are tiny relative to
    # the corpus (the whole point of LSH), so the materialization is
    # cheap; blocks are freed by the ContextCleaner when the plan is
    # garbage-collected.
    scored = D.ngram_jaccard_pairs(
        docs, threshold=-1.0, candidates=cands, prune_docs=True
    ).localCheckpoint(eager=True)
    cand_row = F.struct(
        F.lit("candidates").alias("variant"),
        F.col("id_a"),
        F.col("id_b"),
        F.lit(None).cast("double").alias("jaccard"),
    )
    verified_row = F.struct(
        F.lit("verified").alias("variant"), F.col("id_a"), F.col("id_b"), F.col("jaccard")
    )
    arms = F.when(F.col("jaccard") >= 0.2, F.array(cand_row, verified_row)).otherwise(
        F.array(cand_row)
    )
    pair_rows = scored.select(F.explode(arms).alias("r")).select("r.*")
    # components arm: iterative — connected_components checkpoints the
    # verified pairs up front (one extra evaluation of the scoring
    # subtree) and each star round is actions over that materialized
    # edge set, so the iteration never re-runs the minhash chain.
    comp = connected_components(scored.where(F.col("jaccard") >= 0.2), id_a="id_a", id_b="id_b")
    comp_rows = comp.select(
        F.lit("components").alias("variant"),
        F.col("node").alias("id_a"),
        F.col("component").alias("id_b"),
        F.lit(None).cast("double").alias("jaccard"),
    )
    return pair_rows.unionByName(comp_rows)


# 24-bit codes: hamming-2 banding splits into 3 bands of 8 bits, so the
# band-join key has 256 values per band (12-bit codes gave 16 — every
# band a mega-bucket, and at sf0.1 the "near-dup" set degenerated to
# millions of pairs).  Token hash is materialized ONCE per token into
# ``hvs``; inlining it would re-run md5 per bit (no CSE across lambdas).
_SIMHASH_BITS = 24
_TOKEN_HASH = _hex15_to_bigint("md5(t)")
_SIMHASH_CODE = " + ".join(
    f"(CASE WHEN list_sum(list_transform(hvs, h -> CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN {2 ** b} ELSE 0 END)"
    for b in range(_SIMHASH_BITS)
)
_SIMHASH_HVS = f"SELECT doc_id, list_transform(list_distinct({_TOKS}), t -> {_TOKEN_HASH}) AS hvs FROM documents"


def _simhash_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document codes (24-bit for the declared query; the
    library form is parameterized).  Near-dups share codes — the
    hamming-bucket dedup path.  Registered via q_text_codes."""
    docs = _documents(spark, sf_dir)
    return D.simhash_codes(docs, bits=_SIMHASH_BITS)


_SH_MAXH = 2
_SH_BANDS = _SH_MAXH + 1
_SH_W = _SIMHASH_BITS // _SH_BANDS


@register(
    "q_dedup_simhash_hamming",
    f"""
    WITH codes AS (
        SELECT doc_id, CAST({_SIMHASH_CODE} AS BIGINT) AS simhash
        FROM ({_SIMHASH_HVS})
    ),
    banded AS (
        SELECT doc_id, simhash, t.b AS band_idx,
               (simhash >> (t.b * {_SH_W})) & {(1 << _SH_W) - 1} AS band_bits
        FROM codes, UNNEST([{", ".join(str(b) for b in range(_SH_BANDS))}]) AS t(b)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                        a.simhash AS ca, b.simhash AS cb
        FROM banded a JOIN banded b
          ON a.band_idx = b.band_idx AND a.band_bits = b.band_bits
         AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(ca, cb)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(ca, cb)) <= {_SH_MAXH}
    """,
)
def q_dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming-≤2 near-dup pairs via code banding (pigeonhole:
    3 bands — any pair within budget shares a band exactly), then exact
    bit_count(xor) filter.  The all-pairs hamming scan becomes a banded
    equi-join.

    Code width is corpus-size-derived (``auto_simhash_bits``, same log2
    rule as ``auto_n_planes``) with the band floor pinned at the
    declared-query width ``_SH_W`` (8): every corpus up to
    ``target_bucket_size * 2**8`` = 51,200 docs (incl. sf0.01/sf0.1, so
    the static oracle above stays bit-exact) uses 24 bits, and
    beyond that the band space grows so candidate density stays constant
    — the fix for the 100x band-saturation cliff (VERDICT r4: 2.44B
    pairs at 500k docs with a fixed 24-bit code).  The sizing count()
    runs on a RAW parquet scan (r14, guide §5): counting the
    split-adapted ``_documents`` frame pays its round-robin repartition
    exchange for a number the footer metadata already holds — the raw
    scan's count is a zero-column metadata-scale job, identical value.
    """
    docs = _documents(spark, sf_dir)
    n_docs = read_parquet_table(spark, sf_dir, "documents").count()
    bits = D.auto_simhash_bits(n_docs, max_hamming=_SH_MAXH, floor_band_bits=_SH_W)
    return D.simhash_hamming_pairs(docs, bits=bits, max_hamming=_SH_MAXH)


# ------------------------------------------------------------ similarity
_COS = (
    "list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"
)

# The int8 branch replays operators/quantize.py in SQL, op for op:
# symmetric per-vector scale max|v|/127 (1.0 for zero vectors), round →
# integer codes, integer dot (exact in double far below 2^53), norms as
# sqrt of the integer self-dot, division in the same order as the Spark
# kernel — so the doubles are bit-identical and ROUND(_, 6) agrees.
#
# The int8-codes and PQ CTE chains are shared between _TOPK_ORACLE's
# int8/pq arms and _IVF_ORACLE's ivfpq arm (full-probe IVF-PQ == flat
# ADC row-for-row, so the same SQL checks both).  Both blocks assume a
# preceding ``vecs(vec_id, v)`` CTE.
def _quantize_cte(src: str) -> str:
    """The int8-quantize replay (operators/quantize.py quantize_int8:
    max-|v|/127 scale, half-away round, BIGINT codes) over source
    relation ``src`` — ONE definition shared by every oracle that
    quantizes (the similarity chains and the semantic-dedup k-means),
    so the recurrence cannot silently fork between them."""
    return f"""(
    SELECT vec_id, list_transform(v, x -> CAST(round(x / s) AS BIGINT)) AS qc
    FROM (
        SELECT vec_id, v, CASE WHEN m > 0 THEN m / 127.0 ELSE 1.0 END AS s
        FROM (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS m FROM {src})
    )
)"""


_CODES_CTES = f"""codes AS {_quantize_cte('vecs')},
norms AS (
    SELECT vec_id, qc, sqrt(CAST(list_dot_product(qc, qc) AS DOUBLE)) AS n FROM codes
)"""

# PQ chain: m=4 subspaces × 16-dim slices, ksub=16 centroids (the int8
# codes of the 16 lowest vec_ids — operators/quantize.py seed rule).
# All distances/LUT entries are exact integers (dot values ≤ 16·127²
# are exactly representable even through DOUBLE intermediates), so
# argmin, ADC, and the final rounded cosine are bit-identical to the
# Spark integer kernel.  Assumes the _CODES_CTES block precedes it.
_PQ_CTES = """cbs AS (
    SELECT c, s,
           list_slice(qc, s*16 + 1, (s+1)*16) AS cv,
           list_dot_product(list_slice(qc, s*16 + 1, (s+1)*16),
                            list_slice(qc, s*16 + 1, (s+1)*16)) AS cn
    FROM (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c, qc
          FROM codes ORDER BY vec_id LIMIT 16),
         (SELECT unnest(range(4)) AS s)
),
assign AS (
    SELECT vec_id, s, c, cn FROM (
        SELECT a.vec_id, b.s, b.c, b.cn,
               ROW_NUMBER() OVER (
                   PARTITION BY a.vec_id, b.s
                   ORDER BY b.cn - 2*list_dot_product(
                       list_slice(a.qc, b.s*16 + 1, (b.s+1)*16), b.cv), b.c
               ) AS rk
        FROM codes a, cbs b
    ) WHERE rk = 1
),
pqenc AS (
    SELECT vec_id, list(c ORDER BY s) AS pq_code,
           CAST(SUM(cn) AS BIGINT) AS pn
    FROM assign GROUP BY vec_id
),
qlut AS (
    SELECT q.vec_id AS query_id, b.s, b.c,
           list_dot_product(list_slice(q.qc, b.s*16 + 1, (b.s+1)*16), b.cv) AS dotv
    FROM codes q, cbs b WHERE q.vec_id < 5
),
adc AS (
    SELECT l.query_id, e.vec_id,
           CAST(SUM(l.dotv) AS BIGINT) AS dot, ANY_VALUE(e.pn) AS pn
    FROM pqenc e, qlut l
    WHERE l.c = e.pq_code[l.s + 1]
    GROUP BY l.query_id, e.vec_id
)"""


def _pq_topk_select(variant: str) -> str:
    """The ADC cosine top-10 select over the _PQ_CTES chain, tagged with
    ``variant`` — used for both the 'pq' arm (flat ADC) and the 'ivfpq'
    arm (full-probe IVF-PQ, which is flat ADC row-for-row)."""
    return f"""
    SELECT '{variant}' AS variant, query_id, vec_id, cosine_sim FROM (
        SELECT query_id, vec_id, cosine_sim,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine_sim DESC, vec_id ASC) AS rnk
        FROM (
            SELECT a.query_id, a.vec_id,
                   ROUND(CASE WHEN a.pn > 0 AND n.n > 0
                              THEN CAST(a.dot AS DOUBLE) / (sqrt(CAST(a.pn AS DOUBLE)) * n.n)
                              ELSE 0.0 END, 6) AS cosine_sim
            FROM adc a JOIN norms n ON n.vec_id = a.query_id
            WHERE a.vec_id <> a.query_id
        )
    ) WHERE rnk <= 10
    """


_TOPK_ORACLE = f"""
WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v FROM vecs WHERE vec_id < 5),
scored AS (
    SELECT q.query_id, a.vec_id, ROUND({_COS.replace('b.v', 'q.v')}, 6) AS cosine_sim
    FROM vecs a, q WHERE a.vec_id <> q.query_id
),
flt AS (
    SELECT 'float' AS variant, query_id, vec_id, cosine_sim FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id ASC) AS rnk
        FROM scored
    ) WHERE rnk <= 10
),
{_CODES_CTES},
qn AS (SELECT vec_id AS query_id, qc AS qq, n AS nq FROM norms WHERE vec_id < 5),
scored8 AS (
    SELECT qn.query_id, a.vec_id,
           ROUND(CASE WHEN a.n > 0 AND qn.nq > 0
                      THEN CAST(list_dot_product(a.qc, qn.qq) AS DOUBLE) / (a.n * qn.nq)
                      ELSE 0.0 END, 6) AS cosine_sim
    FROM norms a, qn WHERE a.vec_id <> qn.query_id
),
i8 AS (
    SELECT 'int8' AS variant, query_id, vec_id, cosine_sim FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id ASC) AS rnk
        FROM scored8
    ) WHERE rnk <= 10
),
{_PQ_CTES},
pq AS ({_pq_topk_select('pq')})
SELECT * FROM flt UNION ALL SELECT * FROM i8 UNION ALL SELECT * FROM pq
"""


# Session-level artifact caches for the similarity queries: the PQ
# codebook, IVF centroids, inverted lists and PQ index are deterministic
# functions of the corpus (seed rules over the lowest vec_ids), so
# caching them changes nothing about the values — it just stops the
# declared queries from re-running the build on every invocation,
# matching the production build-once/serve-many split (ivf_index's
# contract).  Held per session (session_cache) and keyed by the
# embeddings path and its signature — the freshness rule of
# read_parquet_table — so a rewritten table misses and rebuilds instead
# of serving vec_ids that no longer exist.
def _emb_key(sf_dir: str) -> tuple | None:
    path = f"{sf_dir}/embeddings.parquet"
    sig = _path_signature(path)
    return None if sig is None else (path, sig)


# SparkContext attribute: (cache, embeddings key) → how many persisted
# frames of it are live in any session of the context.  The sessions
# share the context's cache manager, which matches cached data by plan,
# so those frames share one cached copy, which only the last may release
_LIVE_ATTR = "_graft_live_persisted_frames"
# guards the live counts and serializes the releases: uncaching the
# inverted lists re-caches the PQ index built over them, and a
# concurrent uncache of that index could land between the two steps and
# be undone
_RELEASE_LOCK = threading.Lock()


def _persisted_cached(
    spark: SparkSession, cache: str, sf_dir: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """The frame ``build`` returns, persisted once per (session,
    embeddings version).  The JVM cache manager is shared by every
    session, so a dropped entry would otherwise keep its cached blocks
    for the life of the application: a new version of the table
    supersedes the entries of older ones and releases them, and a frame
    collected with its session releases itself through a finalizer that
    holds only its JVM handle (a frame holds its session strongly).  A
    release unpersists only when no other session still holds a live
    frame of the same entry."""
    key = _emb_key(sf_dir)
    if key is None:  # not cached, so nothing could release a persisted frame
        return build()
    for old in session_evict(spark, cache, lambda k: k[0] == key[0] and k != key):
        detached = old._graft_release.detach()
        if detached is not None:  # its finalizer has not released it yet
            _release(*detached[2])

    def persisted() -> DataFrame:
        live = spark.sparkContext.__dict__.setdefault(_LIVE_ATTR, {})
        df, entry = build(), (cache, key)
        with _RELEASE_LOCK:
            df.persist()
            live[entry] = live.get(entry, 0) + 1
        df._graft_release = weakref.finalize(df, _release_later, df._jdf, live, entry)
        df._graft_release.atexit = False
        return df

    return session_cached(spark, cache, key, persisted)


def _release(jdf, live: dict, entry: tuple) -> None:
    """Count one persisted frame of ``entry`` gone; the last one
    unpersists the shared cached copy."""
    with _RELEASE_LOCK:
        live[entry] -= 1
        if not live[entry]:
            del live[entry]
            jdf.unpersist(False)


def _release_later(jdf, live: dict, entry: tuple) -> None:
    """:func:`_release` on a new thread: a finalizer runs inside
    whatever call triggered the collection, maybe a py4j call on this
    thread's connection, which a nested call would interleave with (py4j
    hands its own object releases to a worker thread for the same
    reason)."""
    threading.Thread(target=_release, args=(jdf, live, entry), daemon=True).start()


def _pq_codebooks_cached(
    spark: SparkSession, sf_dir: str, codes: DataFrame
) -> list[list[list[int]]] | None:
    """``None`` when the corpus holds no trainable codes (empty table or
    all-NULL vectors): the explicit trainer rightly refuses to train on
    nothing, but a declared QUERY over a drained corpus should produce
    zero rows, not an exception — callers turn None into an empty arm."""
    from ..operators.quantize import pq_codebooks_from_codes

    def build():
        try:
            return pq_codebooks_from_codes(codes, m=4, ksub=16)
        except ValueError as e:
            if "no non-NULL codes" not in str(e):
                raise
            return None

    return session_cached(spark, "pq_codebooks", _emb_key(sf_dir), build)


def _ivf_centroids_cached(spark: SparkSession, sf_dir: str, emb: DataFrame) -> list[tuple[int, list[float]]]:
    from ..operators.similarity import ivf_centroids

    return session_cached(
        spark, "ivf_centroids", _emb_key(sf_dir), lambda: ivf_centroids(emb, k=_IVF_K)
    )


@register("q_similarity_topk", _TOPK_ORACLE)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-10 for 5 query vectors against the corpus, as a tagged
    union of two kernels over the same plan shape (corpus scanned once
    per branch, queries broadcast, WindowGroupLimit top-k):

    - ``variant='float'``: brute-force DOUBLE kernel (zip_with +
      aggregate, JVM codegen) — the ANN correctness baseline.
    - ``variant='int8'``: the production storage/shuffle path — symmetric
      int8 quantization + integer dot kernel (operators/quantize.py);
      per-vector scales cancel in cosine so it never dequantizes.  The
      oracle reproduces the integer kernel exactly, so this is a
      bit-exact check of the quantized scorer, not a tolerance check.
    - ``variant='pq'``: product quantization (m=4 subspaces, ksub=16,
      seed-rule codebooks over the int8 codes) scored by ADC — m table
      lookups per corpus row, zero multiplies, m bytes per vector on
      disk.  Integer distances/LUTs end-to-end, so this arm too is
      bit-exact against the oracle.  The deployment form adds the
      retrieve→re-rank stage (operators/quantize.py pq_topk_rerank,
      recall-tested in pytest); the declared query pins the raw ADC
      ranking, which is the part with exactness to check.  The codebook
      is built ONCE per (session, embeddings version) — the
      deterministic seed rule makes the cached artifact identical to a
      fresh train, and the query stops paying the build collect per
      invocation (the same build/serve split ivf_index codifies).
    """
    from ..operators.quantize import (
        pq_adc_topk,
        pq_encode,
        quantize_int8,
        quantized_cosine_topk,
    )
    from ..operators.similarity import cosine_topk

    emb = _embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    flt = cosine_topk(emb, queries, k=10, exclude_self=True).select(
        F.lit("float").alias("variant"), "query_id", "vec_id", "cosine_sim"
    )
    q8 = quantized_cosine_topk(emb, queries, k=10, exclude_self=True).select(
        F.lit("int8").alias("variant"), "query_id", "vec_id", "cosine_sim"
    )
    codes = quantize_int8(emb).select("vec_id", "q_vec")
    cb = _pq_codebooks_cached(spark, sf_dir, codes)
    if cb is None:  # drained corpus — the PQ arm is structurally empty
        pq = flt.limit(0)
    else:
        pq = pq_adc_topk(pq_encode(codes, cb), queries, cb, k=10, exclude_self=True).select(
            F.lit("pq").alias("variant"), "query_id", "vec_id", "cosine_sim"
        )
    return flt.unionByName(q8).unionByName(pq)


# ANN scale path: sign-random-projection buckets.  The SAME plane
# constants are inlined into both the Spark plan and the oracle SQL
# (Python-float repr round-trips exactly to double in both engines).
_N_PLANES, _DIMS, _NEAR_DUP_T = 8, 64, 0.18
_PLANES = random_hyperplanes(_DIMS, _N_PLANES)


def _bucket_sql(planes: list[list[float]]) -> str:
    terms = []
    for i, p in enumerate(planes):
        arr = ", ".join(repr(v) for v in p)
        terms.append(f"(CASE WHEN list_dot_product(v, [{arr}]) > 0 THEN {2**i} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


# Semantic-dedup arm (SemDeDup): k-means cells instead of hyperplane
# buckets, pairs scored with the SAME rounded cosine.  Clustering is
# operators/semantic.py's integer-exact Lloyd — shifted int8 codes,
# fixed-point centroids at scale 1024, surrogate-distance argmin,
# floor-div updates — every intermediate an exact integer < 2^53 in
# both engines' lanes (int64 in Spark, the DOUBLE that DuckDB routes
# list_dot_product through), so cluster assignments are bit-identical
# and the arm is hash-comparable where float k-means never could be.
_SEM_ITERS = 1

# Forced-two-level arm: the scale path of kmeans_int8 (coarse flat
# Lloyd → per-cell fine Lloyd, operators/semantic.py _kmeans_two_level)
# hash-gated at oracle-friendly k — the round-6 hyperplane lesson: the
# gate must see the code that RUNS at scale, not just the flat kernel.
# k=12 under a forced knee of 4 routes two-level with (k1, k2) =
# _two_level_split(12, 4) = (4, 3); the arm runs on the deterministic
# 1/3 subcorpus (vec_id % 3 = 0) so its ~n²/(9·12) pair join stays a
# fraction of the k=16 arm's cost at every sf.
_SEM2_K, _SEM2_KMAX, _SEM2_MOD = 12, 4, 3


def _sem2_ctes(k1: int, k2: int, iters: int, dims: int, scale: int = 1024) -> str:
    """CTE chain replaying _kmeans_two_level in DuckDB over a preceding
    ``vecs2(vec_id, v)`` CTE: coarse flat Lloyd at k1 (same recurrence
    as :func:`_sem_ctes`, t-prefixed names), then an independent k2-way
    Lloyd INSIDE each coarse cell — seeds are each cell's k2 lowest
    ids, assignment ranks a vector only against ITS cell's centroids
    (mirroring _grouped_assign: missing slots simply don't join, the
    engine's +∞ sentinel never wins), updates floor-div per (c1, cl2),
    global label = c1·k2 + cl2.  Every intermediate is an exact
    integer < 2^53 in both engines' lanes, so two-level assignments are
    hash-comparable exactly like the flat kernel's."""
    ctes = [
        f"""tval AS (
    SELECT vec_id, v FROM (
        SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS m FROM vecs2
    ) WHERE v IS NOT NULL AND len(v) = {dims}
          AND len(list_filter(v, x -> x IS NULL)) = 0
          AND m IS NOT NULL AND NOT isnan(m) AND NOT isinf(m)
)""",
        f"tsc AS {_quantize_cte('tval')}",
        "tsu AS (SELECT vec_id, list_transform(qc, x -> x + 127) AS u FROM tsc)",
        f"""tm0 AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid,
              list_transform(u, x -> {scale}*x) AS mv FROM tsu ORDER BY vec_id LIMIT {k1})""",
    ]
    prev_m = "tm0"
    for i in range(iters + 1):
        ctes.append(f"""ta{i} AS (
  SELECT vec_id, u, cid AS cl FROM (
    SELECT s.vec_id, s.u, c.cid,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id
             ORDER BY list_dot_product(c.mv, c.mv) - {2 * scale}*list_dot_product(s.u, c.mv), c.cid) AS rk
    FROM tsu s, {prev_m} c) WHERE rk = 1)""")
        if i < iters:
            prev_m = f"tm{i + 1}"
            ctes.append(f"""{prev_m} AS (
  SELECT cl AS cid, list(({scale}*sx) // cnt ORDER BY pos) AS mv FROM (
    SELECT a.cl, t.i AS pos, SUM(a.u[t.i+1]) AS sx, COUNT(*) AS cnt
    FROM ta{i} a, range({dims}) t(i) GROUP BY a.cl, t.i) GROUP BY cl)""")
    # fine level: codes2 = (vec, u, coarse cell) is ta{iters} itself
    ctes.append(
        f"""tf0 AS (SELECT cl AS c1, rn - 1 AS cid, list_transform(u, x -> {scale}*x) AS mv FROM (
    SELECT cl, u, vec_id, ROW_NUMBER() OVER (PARTITION BY cl ORDER BY vec_id) AS rn
    FROM ta{iters}) WHERE rn <= {k2})"""
    )
    for i in range(iters + 1):
        ctes.append(f"""tb{i} AS (
  SELECT vec_id, u, c1, cid AS cl2 FROM (
    SELECT s.vec_id, s.u, s.cl AS c1, c.cid,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id
             ORDER BY list_dot_product(c.mv, c.mv) - {2 * scale}*list_dot_product(s.u, c.mv), c.cid) AS rk
    FROM ta{iters} s JOIN tf{i} c ON s.cl = c.c1) WHERE rk = 1)""")
        if i < iters:
            ctes.append(f"""tf{i + 1} AS (
  SELECT c1, cl2 AS cid, list(({scale}*sx) // cnt ORDER BY pos) AS mv FROM (
    SELECT a.c1, a.cl2, t.i AS pos, SUM(a.u[t.i+1]) AS sx, COUNT(*) AS cnt
    FROM tb{i} a, range({dims}) t(i) GROUP BY a.c1, a.cl2, t.i) GROUP BY c1, cl2)""")
    ctes.append(
        f"tmemb AS (SELECT f.c1 * {k2} + f.cl2 AS cl, x.vec_id, x.v "
        f"FROM tb{iters} f JOIN vecs2 x USING (vec_id))"
    )
    return ",\n".join(ctes)


def _sem_ctes(k: int, iters: int, dims: int, scale: int = 1024) -> str:
    """CTE chain replaying kmeans_int8 in DuckDB: seeds = the k
    lowest-id codes, ``iters`` (assign → floor-div update) rounds, one
    final assignment, membership joined back to the double vectors.

    ``val_vecs`` mirrors operators/semantic.py ``_shifted_codes``'s
    corrupt-row exclusion (NULL / wrong-length / NULL-element /
    non-finite max-|v|) BEFORE quantization — without it a NULL
    embedding would rank-1-assign to cid 0 through all-NULL order keys
    and poison the centroid counts, a NaN would error the CAST, an
    off-length row would error list_dot_product, and a NULL ELEMENT
    would split the engines (Spark's conditional sums skip it, DuckDB's
    list_dot_product NULLs the key).  The current generator plants no
    corrupt embeddings (the filter is a no-op on today's data), but the
    operators advertise corrupt-row tolerance and the oracle must match
    them the day the generator does."""
    ctes = [
        f"""val_vecs AS (
    SELECT vec_id, v FROM (
        SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS m FROM vecs
    ) WHERE v IS NOT NULL AND len(v) = {dims}
          AND len(list_filter(v, x -> x IS NULL)) = 0
          AND m IS NOT NULL AND NOT isnan(m) AND NOT isinf(m)
)""",
        f"scodes AS {_quantize_cte('val_vecs')}",
        "su AS (SELECT vec_id, list_transform(qc, x -> x + 127) AS u FROM scodes)",
        f"""m0 AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid,
              list_transform(u, x -> {scale}*x) AS mv FROM su ORDER BY vec_id LIMIT {k})""",
    ]
    prev_m = "m0"
    for i in range(iters + 1):
        ctes.append(f"""a{i} AS (
  SELECT vec_id, u, cid AS cl FROM (
    SELECT s.vec_id, s.u, c.cid,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id
             ORDER BY list_dot_product(c.mv, c.mv) - {2 * scale}*list_dot_product(s.u, c.mv), c.cid) AS rk
    FROM su s, {prev_m} c) WHERE rk = 1)""")
        if i < iters:
            prev_m = f"m{i + 1}"
            ctes.append(f"""{prev_m} AS (
  SELECT cl AS cid, list(({scale}*sx) // cnt ORDER BY pos) AS mv FROM (
    SELECT a.cl, t.i AS pos, SUM(a.u[t.i+1]) AS sx, COUNT(*) AS cnt
    FROM a{i} a, range({dims}) t(i) GROUP BY a.cl, t.i) GROUP BY cl)""")
    ctes.append(
        f"memb AS (SELECT f.cl, x.vec_id, x.v FROM a{iters} f JOIN vecs x USING (vec_id))"
    )
    return ",\n".join(ctes)


from ..operators.semantic import _two_level_split as _sem_split  # noqa: E402

_SEM2_K1, _SEM2_K2 = _sem_split(_SEM2_K, _SEM2_KMAX)

# Incremental-SemDeDup arm: the engine BOOTSTRAPS cells on the id<200
# prefix (its own Lloyd), then serves ids [200,350) and [350,∞) as two
# real increments against the in-plan cell index (the persisted-store
# policy, operators/incremental.incremental_semantic_near_dup) and
# emits the union of accepted ids.  The oracle replays the SPLIT-FREE
# one-shot equivalent — the split-invariance theorem the pytest suite
# pins (fixed bootstrap cells + monotone ids + int8 scorer ⇒ any split
# accepts the same set): reject id b ≥ 200 iff SOME lower-id row in
# its cell scores int8-cosine ≥ t.  Cells come from a Lloyd run over
# the PREFIX only, routed onto the full corpus — exactly the assigner-
# tree serve path.
_SEMI_K, _SEMI_B0, _SEMI_C1 = 8, 200, 350
# serve threshold picked for gate DISCRIMINATION on this corpus: at the
# union's 0.18 nearly every non-boot row has some ≥0.18 lower-id cell
# mate (≈all rejected — a hash over the bootstrap alone); at 0.35 the
# sf0.01 corpus accepts 411/500 — both outcomes well represented, so
# the hash pins which rows survive, not just how many
_SEMI_T = 0.35
# Takedown arm: ids ≡ 0 (mod 7) among the pre-inc2 history (bootstrap +
# first increment) are retracted between the increments — the modulus
# hits both accepted and rejected history, so the gate pins that a
# removed row stops rejecting REGARDLESS of its own acceptance status.
_RETR_MOD = 7


def _sem_inc_ctes(k: int, iters: int, dims: int, b0: int, t: float, scale: int = 1024) -> str:
    """CTE chain for the incremental-SemDeDup oracle (u-prefixed to
    coexist with the other semantic chains): validity-filter + quantize
    the FULL corpus, run Lloyd (seeds + updates) over the id<b0
    BOOTSTRAP rows only, assign ALL valid rows under the final
    centroids (= the assigner-tree routing), score within-cell pairs
    with the stored-code int8 cosine (norm guards matching
    incremental._qcos_reject_ids), and reject every b ≥ b0 with a
    lower-id match.  Accepted = every corpus id (corrupt included) not
    rejected."""
    ctes = [
        f"""uval AS (
    SELECT vec_id, v FROM (
        SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS m FROM vecs
    ) WHERE v IS NOT NULL AND len(v) = {dims}
          AND len(list_filter(v, x -> x IS NULL)) = 0
          AND m IS NOT NULL AND NOT isnan(m) AND NOT isinf(m)
)""",
        f"usc AS {_quantize_cte('uval')}",
        "uqn AS (SELECT vec_id, qc, sqrt(CAST(list_dot_product(qc, qc) AS DOUBLE)) AS n FROM usc)",
        "usu AS (SELECT vec_id, list_transform(qc, x -> x + 127) AS u FROM usc)",
        f"ub AS (SELECT vec_id, u FROM usu WHERE vec_id < {b0})",
        f"""um0 AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid,
              list_transform(u, x -> {scale}*x) AS mv FROM ub ORDER BY vec_id LIMIT {k})""",
    ]
    prev_m = "um0"
    for i in range(iters):
        ctes.append(f"""ua{i} AS (
  SELECT vec_id, u, cid AS cl FROM (
    SELECT s.vec_id, s.u, c.cid,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id
             ORDER BY list_dot_product(c.mv, c.mv) - {2 * scale}*list_dot_product(s.u, c.mv), c.cid) AS rk
    FROM ub s, {prev_m} c) WHERE rk = 1)""")
        prev_m = f"um{i + 1}"
        ctes.append(f"""{prev_m} AS (
  SELECT cl AS cid, list(({scale}*sx) // cnt ORDER BY pos) AS mv FROM (
    SELECT a.cl, t.i AS pos, SUM(a.u[t.i+1]) AS sx, COUNT(*) AS cnt
    FROM ua{i} a, range({dims}) t(i) GROUP BY a.cl, t.i) GROUP BY cl)""")
    # final centroids routed onto the FULL corpus (= assigner tree)
    ctes.append(f"""ucell AS (
  SELECT vec_id, cid AS cl FROM (
    SELECT s.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id
             ORDER BY list_dot_product(c.mv, c.mv) - {2 * scale}*list_dot_product(s.u, c.mv), c.cid) AS rk
    FROM usu s, {prev_m} c) WHERE rk = 1)""")
    ctes.append(f"""urej AS (
  SELECT DISTINCT b.vec_id FROM ucell a JOIN ucell b ON a.cl = b.cl AND a.vec_id < b.vec_id
  JOIN uqn na ON na.vec_id = a.vec_id JOIN uqn nb ON nb.vec_id = b.vec_id
  WHERE b.vec_id >= {b0} AND na.n > 0 AND nb.n > 0
    AND CAST(list_dot_product(na.qc, nb.qc) AS DOUBLE) / (nb.n * na.n) >= {t})""")
    ctes.append(
        "uacc AS (SELECT e.vec_id FROM embeddings e LEFT JOIN urej r"
        " ON e.vec_id = r.vec_id WHERE r.vec_id IS NULL)"
    )
    return ",\n".join(ctes)


def _literal_cells_schema(codes: DataFrame, val_name: str):
    """Schema for a driver-literal (vec_id, cell/cluster) frame — the id
    type mirrors the codes frame's (the same rule _kmeans_dispatch uses
    for its literal assignment), the value is int like the distributed
    assignment's ``_cl``."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    return StructType(
        [
            StructField("vec_id", codes.schema["vec_id"].dataType),
            StructField(val_name, IntegerType()),
        ]
    )


@register(
    "q_embed_near_dup_lsh",
    f"""
    WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    bucketed AS (SELECT vec_id, v, {_bucket_sql(_PLANES)} AS bucket FROM vecs),
    lshp AS (
        SELECT 'lsh' AS variant, a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND({_COS}, 6) AS cosine_sim
        FROM bucketed a JOIN bucketed b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE ROUND({_COS}, 6) >= {_NEAR_DUP_T}
    ),
    vecs2 AS (SELECT vec_id, v FROM vecs WHERE vec_id % {_SEM2_MOD} = 0),
    {_sem2_ctes(_SEM2_K1, _SEM2_K2, _SEM_ITERS, _DIMS)},
    sem2p AS (
        SELECT 'semantic2' AS variant, a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND({_COS}, 6) AS cosine_sim
        FROM tmemb a JOIN tmemb b ON a.cl = b.cl AND a.vec_id < b.vec_id
        WHERE ROUND({_COS}, 6) >= {_NEAR_DUP_T}
    ),
    {_sem_inc_ctes(_SEMI_K, _SEM_ITERS, _DIMS, _SEMI_B0, _SEMI_T)},
    usemi AS (
        SELECT 'sem_inc' AS variant, vec_id AS id_a,
               CAST(NULL AS BIGINT) AS id_b, CAST(NULL AS DOUBLE) AS cosine_sim
        FROM uacc
    ),
    uretr AS (
        SELECT DISTINCT b.vec_id
        FROM ucell a JOIN ucell b ON a.cl = b.cl AND a.vec_id < b.vec_id
        JOIN uqn na ON na.vec_id = a.vec_id JOIN uqn nb ON nb.vec_id = b.vec_id
        WHERE b.vec_id >= {_SEMI_C1} AND na.n > 0 AND nb.n > 0
          AND NOT (a.vec_id % {_RETR_MOD} = 0 AND a.vec_id < {_SEMI_C1})
          AND CAST(list_dot_product(na.qc, nb.qc) AS DOUBLE) / (nb.n * na.n) >= {_SEMI_T}
    ),
    uretrp AS (
        SELECT 'retract' AS variant, e.vec_id AS id_a,
               CAST(NULL AS BIGINT) AS id_b, CAST(NULL AS DOUBLE) AS cosine_sim
        FROM embeddings e LEFT JOIN uretr r ON e.vec_id = r.vec_id
        WHERE e.vec_id >= {_SEMI_C1} AND r.vec_id IS NULL
    )
    SELECT * FROM lshp UNION ALL SELECT * FROM sem2p
    UNION ALL SELECT * FROM usemi UNION ALL SELECT * FROM uretrp
    """,
)
def q_embed_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup, tagged union (one registry slot), two
    corpus-partitioning strategies over the same rounded-cosine scorer:

    - ``variant='lsh'`` — sign-random-projection buckets (2^8): the
      O(n²) all-pairs join becomes a per-bucket equi-join — the
      random-partition ANN shape.
    - ``variant='semantic2'`` — SemDeDup (operators/semantic.py)
      forced down its SCALE path (``flat_k_max=4`` routes k=12 through
      _kmeans_two_level: coarse k1=4 flat Lloyd, fine k2=3 per-cell
      Lloyd) on the deterministic 1/3 subcorpus; the oracle replays the
      full two-level recurrence (:func:`_sem2_ctes`), so the hash gate
      covers the code that runs at auto_k corpus sizes.  (The flat
      k=16 full-corpus ``semantic`` arm was retired in r10 — subsumed
      by this arm's two-level gate plus ``sem_inc``'s serve gate, per
      the round-9 slot-hygiene verdict; the flat recurrence itself
      stays pinned engine-vs-SQL by tests/test_semantic.py.)
    - ``variant='sem_inc'`` — the INCREMENTAL serve policy
      (operators/incremental.incremental_semantic_near_dup): cells
      bootstrapped on the id<200 prefix, ids [200,350) and [350,∞)
      served as two REAL increments against the in-plan cell index
      (the second increment's index carries ALL of the first's rows,
      accepted or not); rows are the union of accepted ids, hash-gated
      against the oracle's split-free one-shot equivalent
      (:func:`_sem_inc_ctes`) — the split-invariance contract the
      pytest suite pins, now under the hash gate like the band
      family's `incremental` arm of q_corpus_curation.
    - ``variant='retract'`` — the TAKEDOWN policy, covering BOTH store
      paths (r10 eager ``index_store.retract_ids``; r11 O(ids)
      ``index_store.tombstone_ids``): between the two increments,
      every id ≡ 0 (mod 7) of the pre-inc2 history (bootstrap + first
      increment, accepted AND rejected rows alike) is taken down, and
      inc2 is served against the remainder; rows are inc2's accepted
      ids.  The two paths serve the IDENTICAL frame by construction —
      the eager rewrite drops the ids' rows into generation N+1, the
      tombstone path anti-joins them at read time — and that
      equivalence is pinned store-vs-store in test_tombstones.py
      (policy parity per kind), so this one arm hash-gates the policy
      for both.  The oracle replays the decision rule with the
      takedown as an id predicate on the MATCHING side — a row whose
      only near-dup history was taken down flips to accepted, which is
      precisely the policy consequence takedown demands (the store
      mechanics — generation swap, seen purge, sidecar atomicity,
      crash windows — are pytest-gated in test_index_lifecycle.py and
      test_tombstones.py)."""
    from ..operators import semantic as S
    from ..operators.incremental import (
        incremental_semantic_near_dup,
        semantic_cell_index,
    )
    from ..operators.semantic import (
        kmeans_int8_tree,
        semantic_cell_assign,
        semantic_dedup_pairs,
        shifted_codes,
    )

    emb = _embeddings(spark, sf_dir)
    # each (embeddings, codes/u) pair derives from ONE predicate (r14
    # advice): the Column predicates slice the frames, the lambdas slice
    # the driver-collected codes dict — same boundaries by construction.
    p_sem2, u_sem2 = F.col("vec_id") % _SEM2_MOD == 0, lambda i: i % _SEM2_MOD == 0
    p_boot, u_boot = F.col("vec_id") < _SEMI_B0, lambda i: i < _SEMI_B0
    p_inc1 = (F.col("vec_id") >= _SEMI_B0) & (F.col("vec_id") < _SEMI_C1)
    u_inc1 = lambda i: _SEMI_B0 <= i < _SEMI_C1  # noqa: E731
    p_inc2, p_hist = F.col("vec_id") >= _SEMI_C1, F.col("vec_id") < _SEMI_C1
    # ONE shifted-codes pass for the whole slot (r14, guide §2.4 — the
    # shared band pass of q_corpus_curation applied to the int8 code
    # chain): quantize+shift is a pure per-row map, so every arm's codes
    # frame is an id-slice of one materialized full-corpus pass.
    # Before, the slot built the chain 4× (boot Lloyd, sem2 Lloyd, inc1
    # and inc2 tree routing) — 4 plan-compiles + 4 checkpoint
    # materializations whose slices sum to ~1.3 corpus passes.
    codes_all = shifted_codes(emb, _DIMS)
    lsh = lsh_bucketed_pairs(
        emb, n_planes=_N_PLANES, dims=_DIMS, threshold=_NEAR_DUP_T
    ).select(F.lit("lsh").alias("variant"), "id_a", "id_b", "cosine_sim")
    # ONE driver probe for the whole slot (r15, guide §1.2/§5 — the
    # final step of the r14 driver-Lloyd restructure): when the FULL
    # corpus codes fit the driver bound (the same ~2 MB
    # semantic._DRIVER_LLOYD_MAX_ROWS bound the per-arm dispatch uses),
    # collect them ONCE and run both Lloyd replays plus ALL cell
    # routing (boot / inc1 / inc2 through the bootstrap tree) in driver
    # int64 numpy — bit-identical by the pinned kernel tests.  Every
    # arm's index rows then become id-slices of ONE materialized
    # full-corpus (id, cell, q_vec, q_norm) pass, so the build
    # collapses from five AQE-materializing checkpoints (boot index +
    # grown union + inc2 rows, each with its own assign shuffle) to
    # exactly two materialization points: the codes pass and the
    # index-rows pass (whose only exchange is the scan repartition — the
    # cells side rides a broadcast literal).  Corpora past the bound
    # run the r14 structure below unchanged (its per-arm dispatch still
    # drives the 200-row bootstrap Lloyd driver-side at ANY corpus
    # size; only the full-corpus routing stays distributed).
    u_all = None
    if S._DRIVER_LLOYD_MAX_ROWS > 0 and codes_all.count() <= S._DRIVER_LLOYD_MAX_ROWS:
        u_all = {r[0]: [int(x) for x in r[1]] for r in codes_all.collect()}
    if u_all is not None and any(map(u_sem2, u_all)):
        sem2_map, _, _ = S._driver_lloyd_dispatch(
            {i: v for i, v in u_all.items() if u_sem2(i)},
            _SEM2_K,
            _SEM_ITERS,
            _SEM2_KMAX,
        )
        # Arrow input plans a LocalTableScan; list input, an RDD scan
        sem2_assign = S._mark_driver_local(
            literal_frame(
                spark,
                [(i, sem2_map[i]) for i in sorted(sem2_map)],
                _literal_cells_schema(codes_all, "cluster"),
            )
        )
    else:
        # empty/corrupt slice falls back so the dims-mismatch diagnostic
        # and the drained-corpus shape stay exactly the r14 path's
        sem2_assign = kmeans_int8_tree(
            codes_all.where(p_sem2), _SEM2_K, _SEM_ITERS, flat_k_max=_SEM2_KMAX
        )[0]
    emb2 = emb.filter(p_sem2)
    sem2 = semantic_dedup_pairs(
        emb2, S.materialize_assignment(sem2_assign, emb2, _DIMS), _NEAR_DUP_T
    ).select(F.lit("semantic2").alias("variant"), "id_a", "id_b", "cosine_sim")
    # incremental-serve arm: bootstrap Lloyd on the prefix, two real
    # increments against the growing in-plan index, emit accepted ids
    boot = emb.filter(p_boot)
    inc1 = emb.filter(p_inc1)
    inc2 = emb.filter(p_inc2)
    if u_all is not None:
        asg = None  # driver path: idx is a slice of full_rows below
        _, _, tree = S._driver_lloyd_dispatch(
            {i: v for i, v in u_all.items() if u_boot(i)},
            _SEMI_K,
            _SEM_ITERS,
            S._FLAT_K_MAX,
        )
    else:
        asg, _, tree = kmeans_int8_tree(codes_all.where(p_boot), _SEMI_K, _SEM_ITERS)
    if tree is None:  # drained corpus — everything (nothing) accepted
        acc_ids = emb.select("vec_id")
        retr_ids = emb.select("vec_id").where(p_inc2)
    else:
        if u_all is not None:
            # ONE full-corpus index-rows pass, sliced per arm.  Routing
            # the whole corpus through the bootstrap tree driver-side
            # reproduces each arm's frame bit-identically: the boot
            # slice IS the Lloyd's final assignment (the run's last
            # pass is this routing — assign_cells' pinned contract) and
            # the inc slices equal semantic_cell_assign's distributed
            # routing (slicing commutes with a per-row map; pinned by
            # test_driver_assign_tree_matches_distributed and
            # test_full_corpus_rows_slices_match_per_arm).  Corrupt
            # rows keep riding with a NULL cell via the left join —
            # the semantic_cell_index contract, unchanged.
            cells_df = literal_frame(
                spark,
                sorted(S._driver_assign_tree(u_all, tree).items()),
                _literal_cells_schema(codes_all, "cell"),
            )
            full_rows = semantic_cell_index(emb, F.broadcast(cells_df)).localCheckpoint(
                eager=False
            )
            idx = full_rows.where(p_boot)
            r1 = incremental_semantic_near_dup(
                inc1, idx, full_rows.where(p_inc1), tree, threshold=_SEMI_T, dims=_DIMS
            )
            grown = full_rows.where(p_hist)  # = idx ∪ r1.index_rows
            inc2_rows = full_rows.where(p_inc2)
        else:
            idx = semantic_cell_index(boot, asg.withColumnRenamed("cluster", "cell"))
            inc1_rows = semantic_cell_index(
                inc1, semantic_cell_assign(codes_all.where(p_inc1), tree)
            )
            # grown + inc2_rows are LAZILY checkpointed (r14 re-A/B):
            # the r10 measurement that rejected materialization (15.2
            # vs 15.7 s, inside wobble) predates the Arrow pair scorer
            # and the driver Lloyd — with per-pair scoring now cheap,
            # the recomputed routing subtrees (grown appears in r2 AND
            # r2r; inc2's rows in all four serve joins) are the
            # remaining term, and the same whole-union A/B now reads
            # 3.56 s raw vs 3.21 s checkpointed at sf0.1.  This also
            # mirrors the production serve shape: the index an
            # increment reads IS a materialized artifact (index_store's
            # parquet), never a recomputed lineage.
            r1 = incremental_semantic_near_dup(
                inc1, idx, inc1_rows, tree, threshold=_SEMI_T, dims=_DIMS
            )
            grown = idx.unionByName(r1.index_rows).localCheckpoint(eager=False)
            # inc2's cell-index rows are a pure function of (inc2, tree,
            # dims) — build them ONCE and hand them to BOTH the sem_inc
            # and retract serves (r14, guide §1.2 driver work: each
            # semantic_cell_index construction is a quantize+assign+
            # localCheckpoint chain, ~0.4 s of driver plan assembly).
            inc2_rows = semantic_cell_index(
                inc2, semantic_cell_assign(codes_all.where(p_inc2), tree)
            ).localCheckpoint(eager=False)
        r2 = incremental_semantic_near_dup(
            inc2, grown, inc2_rows, tree, threshold=_SEMI_T, dims=_DIMS
        )
        acc_ids = (
            boot.select("vec_id")
            .unionByName(r1.accepted.select("vec_id"))
            .unionByName(r2.accepted.select("vec_id"))
        )
        # takedown replay: drop the retracted ids' rows from the grown
        # index (exactly the frame a post-retract_ids serve reads) and
        # re-serve inc2 — shares the bootstrap tree and r1 with sem_inc,
        # so the arm costs one more cell join, not another Lloyd
        retracted = (F.col("vec_id") % _RETR_MOD == 0) & (F.col("vec_id") < _SEMI_C1)
        r2r = incremental_semantic_near_dup(
            inc2, grown.where(~retracted), inc2_rows, tree, threshold=_SEMI_T, dims=_DIMS
        )
        retr_ids = r2r.accepted.select("vec_id")
    semi = acc_ids.select(
        F.lit("sem_inc").alias("variant"),
        F.col("vec_id").alias("id_a"),
        F.lit(None).cast("long").alias("id_b"),
        F.lit(None).cast("double").alias("cosine_sim"),
    )
    retr = retr_ids.select(
        F.lit("retract").alias("variant"),
        F.col("vec_id").alias("id_a"),
        F.lit(None).cast("long").alias("id_b"),
        F.lit(None).cast("double").alias("cosine_sim"),
    )
    return lsh.unionByName(sem2).unionByName(semi).unionByName(retr)


# IVF: deterministic codebook = the 16 lowest-id vectors; assignment and
# probing both rank by (sim DESC, cid DESC) — matching the engine's
# struct-max tie-break.  Sims round to 6dp before ranking on BOTH sides.
_IVF_K, _IVF_NPROBE = 16, 2
_SIM_AC = "ROUND(list_dot_product(a.v, c.cv) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6)"
_SIM_QC = _SIM_AC.replace("a.v", "q.v")

_IVF_ORACLE = f"""
WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (SELECT vec_id AS cid, v AS cv FROM vecs ORDER BY vec_id LIMIT {_IVF_K}),
assigned AS (
    SELECT vec_id, v, cid AS centroid_id FROM (
        SELECT a.vec_id, a.v, c.cid, {_SIM_AC} AS sim,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY {_SIM_AC} DESC, c.cid DESC) AS rnk
        FROM vecs a, cents c
    ) WHERE rnk = 1
),
q AS (SELECT vec_id AS query_id, v FROM vecs WHERE vec_id < 5),
probes AS (
    SELECT query_id, v, cid AS centroid_id FROM (
        SELECT q.query_id, q.v, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY {_SIM_QC} DESC, c.cid DESC) AS rnk
        FROM q, cents c
    ) WHERE rnk <= {_IVF_NPROBE}
),
scored AS (
    SELECT p.query_id, a.vec_id,
           ROUND(list_dot_product(a.v, p.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(p.v, p.v))), 6) AS cosine_sim
    FROM assigned a JOIN probes p USING (centroid_id)
    WHERE a.vec_id <> p.query_id
),
ivf AS (
    SELECT 'ivf' AS variant, query_id, vec_id, cosine_sim FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id ASC) AS rnk
        FROM scored
    ) WHERE rnk <= 10
),
{_CODES_CTES},
{_PQ_CTES},
ivfpq AS ({_pq_topk_select('ivfpq')}),
rr_cands AS (
    SELECT query_id, vec_id FROM (
        SELECT a.query_id, a.vec_id,
               ROW_NUMBER() OVER (PARTITION BY a.query_id ORDER BY
                   ROUND(CASE WHEN a.pn > 0 AND n.n > 0
                              THEN CAST(a.dot AS DOUBLE) / (sqrt(CAST(a.pn AS DOUBLE)) * n.n)
                              ELSE 0.0 END, 6) DESC, a.vec_id ASC) AS rnk
        FROM adc a JOIN norms n ON n.vec_id = a.query_id
        WHERE a.vec_id <> a.query_id
    ) WHERE rnk <= 50
),
rerank AS (
    SELECT 'rerank' AS variant, query_id, vec_id, cosine_sim FROM (
        SELECT query_id, vec_id, cosine_sim,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine_sim DESC, vec_id ASC) AS rnk
        FROM (
            SELECT c.query_id, c.vec_id,
                   ROUND(list_dot_product(x.v, q.v) /
                         (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(q.v, q.v))), 6) AS cosine_sim
            FROM rr_cands c
            JOIN vecs x ON x.vec_id = c.vec_id
            JOIN q ON q.query_id = c.query_id
        )
    ) WHERE rnk <= 10
)
SELECT * FROM ivf UNION ALL SELECT * FROM ivfpq UNION ALL SELECT * FROM rerank
"""


@register("q_similarity_ivf_topk", _IVF_ORACLE)
def q_similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-10, tagged union (one registry slot):

    - ``variant='ivf'`` — corpus partitioned into 16 inverted lists by
      nearest centroid, queries probe their 2 nearest lists — per-query
      scan cost drops to ~nprobe/k_lists of brute force (the ANN
      recall/cost dial; LSH variant is q_embed_near_dup_lsh).
    - ``variant='ivfpq'`` — the FAISS-style IVF-PQ composition
      (operators/quantize.py ivf_pq_index/ivf_pq_topk): PQ codes replace
      the vectors inside the inverted lists, ADC scores the probed rows
      with m integer lookups each.  The declared query probes ALL lists
      (nprobe = nlist), which makes the result flat-ADC row-for-row —
      so the pq oracle chain checks the whole composition bit-exactly;
      the recall/cost behavior at nprobe < nlist stays in pytest
      (full-probe equality + nprobe=2 recall floor).
    - ``variant='rerank'`` — the DEPLOYMENT serve
      (operators/quantize.py ivf_pq_topk_rerank): ADC nominates
      k·factor candidates (factor pinned to 5 so the oracle's rank
      boundary is inlined — production auto-sizes via
      auto_rerank_factor), then the exact float kernel re-scores just
      those rows and keeps k.  The oracle replays nomination (ADC rank
      ≤ 50, the same tie-break) and rescoring (the proven double-cosine
      expression), hash-checking the full retrieve→re-rank composition.

    Centroids and PQ codebooks come from the per-(session, embeddings
    version) caches — the build-once/serve-many split, same values
    every run (deterministic seed rules).
    """
    from ..operators.quantize import (
        ivf_pq_index,
        ivf_pq_topk,
        ivf_pq_topk_rerank,
        quantize_int8,
    )
    from ..operators.similarity import ivf_index, ivf_topk, ivf_topk_indexed

    emb = _embeddings(spark, sf_dir)
    cents = _ivf_centroids_cached(spark, sf_dir, emb)
    queries = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    if cents:
        # inverted lists built+persisted ONCE per (session, embeddings
        # version) — the same build-once/serve-many split the PQ index below
        # already uses (r14: the arm previously re-ran the O(n·nlist)
        # assignment inside every action; the lists are deterministic,
        # so the cached artifact equals a fresh build and the oracle
        # hash is unchanged.  Measured at sf0.1: build+serve 1.51 s →
        # 0.71 s serve over the persisted lists).
        lists = _persisted_cached(spark, "ivf_lists", sf_dir, lambda: ivf_index(emb, cents))
        ivf = ivf_topk_indexed(
            lists, queries, cents, k=10, nprobe=_IVF_NPROBE, exclude_self=True
        ).select(F.lit("ivf").alias("variant"), "query_id", "vec_id", "cosine_sim")
    else:  # drained corpus — preserve the empty-result shape
        ivf = ivf_topk(emb, queries, cents, k=10, nprobe=_IVF_NPROBE, exclude_self=True).select(
            F.lit("ivf").alias("variant"), "query_id", "vec_id", "cosine_sim"
        )
    cb = _pq_codebooks_cached(spark, sf_dir, quantize_int8(emb).select("vec_id", "q_vec"))
    if not cents or cb is None:  # drained corpus — nothing to index
        ivfpq = ivf.limit(0)
        rr = ivf.limit(0)
    else:
        # index built+persisted ONCE per (session, embeddings version) —
        # the ivf_pq_index docstring's own deployment contract ("persist or
        # write the result once; serve with ivf_pq_topk").  The build is
        # deterministic (seed-rule centroids/codebooks), so the cached
        # artifact is identical to a fresh one and the oracle hash is
        # unchanged; repeated invocations pay only the ADC serve scan.
        index = _persisted_cached(
            spark, "ivf_pq_index", sf_dir, lambda: ivf_pq_index(emb, cents, cb)
        )
        ivfpq = ivf_pq_topk(
            index, queries, cents, cb, k=10, nprobe=_IVF_K, exclude_self=True
        ).select(F.lit("ivfpq").alias("variant"), "query_id", "vec_id", "cosine_sim")
        rr = ivf_pq_topk_rerank(
            index, queries, cents, cb, emb,
            k=10, nprobe=_IVF_K, rerank_factor=5, exclude_self=True,
        ).select(F.lit("rerank").alias("variant"), "query_id", "vec_id", "cosine_sim")
    return ivf.unionByName(ivfpq).unionByName(rr)


# ------------------------------------------------------- fingerprinting
# Rabin-Karp rolling polynomial hash, portable across engines: token
# hash t = hex15(md5(tok)) mod M; doc hash folds (a*B + t) mod M left to
# right; window fingerprint = min over all 8-token window hashes
# (winnowing-lite).  All bigint, overflow-safe: a*B < M*131 ~ 1.3e11.
_FP_M, _FP_B, _FP_W = 1_000_000_007, 131, 8
_FP_BPOW = [pow(_FP_B, _FP_W - 1 - j, _FP_M) for j in range(_FP_W)]
_TH = f"({_hex15_to_bigint('md5(t)')} % {_FP_M})"

_WINDOW_SUM = " + ".join(f"(ths[i + {j}] * {_FP_BPOW[j]}) % {_FP_M}" for j in range(_FP_W))

_FINGERPRINT_ORACLE = f"""
WITH toks AS (SELECT doc_id, list_transform({_TOKS}, t -> {_TH}) AS ths FROM documents)
SELECT doc_id,
       list_reduce(list_prepend(CAST(0 AS BIGINT), ths),
                   (a, x) -> (a * {_FP_B} + x) % {_FP_M}) AS rolling_fp,
       CASE WHEN len(ths) >= {_FP_W} THEN
           list_min(list_transform(range(1, len(ths) - {_FP_W} + 2),
                                   i -> ({_WINDOW_SUM}) % {_FP_M}))
       END AS min_window_fp
FROM toks
"""


def _fingerprint_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: whole-document Rabin-Karp rolling hash
    plus the minimum 8-token-window hash (winnowing-style near-dup
    key).  Map-only projection, 8-byte outputs — shuffle-friendly keys
    for downstream dedup joins.  Registered via q_text_codes."""
    docs = _documents(spark, sf_dir)
    ths = F.transform(
        T.tokens("text"),
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("bigint") % _FP_M,
    )
    staged = docs.select("doc_id", ths.alias("ths"))
    rolling = F.aggregate(
        F.col("ths"),
        F.lit(0).cast("bigint"),
        lambda a, x: (a * _FP_B + x) % _FP_M,
    )

    def window_hash(i: Column) -> Column:
        s = None
        for j, bp in enumerate(_FP_BPOW):
            term = (F.element_at(F.col("ths"), i + F.lit(j)) * F.lit(bp)) % _FP_M
            s = term if s is None else s + term
        return s % _FP_M

    n = F.size("ths")
    min_window = F.when(
        n >= _FP_W,
        F.array_min(F.transform(F.sequence(F.lit(1), n - (_FP_W - 1)), window_hash)),
    )
    return staged.select(
        "doc_id",
        rolling.alias("rolling_fp"),
        min_window.alias("min_window_fp"),
    )


@register(
    "q_text_codes",
    f"""
    WITH codes AS (
        SELECT doc_id, CAST({_SIMHASH_CODE} AS BIGINT) AS simhash
        FROM ({_SIMHASH_HVS})
    ),
    fps AS ({_FINGERPRINT_ORACLE})
    SELECT c.doc_id, c.simhash, f.rolling_fp, f.min_window_fp
    FROM codes c JOIN fps f ON c.doc_id = f.doc_id
    """,
)
def q_text_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document codes: SimHash + Rabin-Karp rolling/winnowing
    fingerprints, joined on doc_id into one code table (the artifact a
    dedup pipeline materializes once and reuses for both hamming-banding
    and exact-prefilter joins)."""
    return _simhash_frame(spark, sf_dir).join(_fingerprint_frame(spark, sf_dir), "doc_id")


# ------------------------------------------------------------- curation
_CUR_MINQ, _CUR_JT = 0.94, 0.2
_S1_PAIRS = _MINHASH_PAIRS.replace("FROM documents", "FROM s1")
_S1_SHINGLES = _SHINGLES.replace("FROM documents", "FROM s1")

# incremental arm: the MinHash-ESTIMATE dedup policy (operators/
# incremental.py) run as three id-range increments on the engine side,
# oracled by the ONE-SHOT est-dedup over the full corpus — the module's
# parity contract (any monotone-id split accepts a bit-identical set)
# IS the thing this arm checks end to end.  Threshold note: the engine
# bands with 64-bit xxhash keys, the oracle with exact VARCHAR concat
# keys, so their CANDIDATE sets can differ by xxhash collisions — but
# est >= 13/16 (threshold 0.8) pigeonholes at least one fully-agreeing
# band (3 misses cannot break all 4 bands), so every est-passing pair
# is a true band match on BOTH engines and the REJECTED sets are
# engine-independent.  A threshold <= 12/16 would lose that guarantee.
_INC_T = 0.8
_EST_AGREE_SQL = " + ".join(
    f"(CASE WHEN sa.sig[{i + 1}] = sb.sig[{i + 1}] THEN 1 ELSE 0 END)"
    for i in range(_NUM_HASHES)
)


@register(
    "q_corpus_curation",
    f"""
    WITH profiled AS ({_TEXT_PROFILE_ORACLE}),
    q1 AS (
        SELECT p.doc_id, d.text, p.detected_lang, p.n_tokens
        FROM profiled p JOIN documents d USING (doc_id)
        WHERE p.quality >= {_CUR_MINQ} AND p.detected_lang IS NOT NULL
    ),
    keep1 AS (SELECT MIN(doc_id) AS doc_id FROM q1 GROUP BY {_NORM_TEXT}),
    s1 AS (SELECT q1.* FROM q1 JOIN keep1 USING (doc_id)),
    near AS (
        WITH cand AS ({_S1_PAIRS}),
        sets AS (SELECT doc_id, list_distinct(s) AS sh FROM ({_S1_SHINGLES}))
        SELECT DISTINCT c.id_b
        FROM cand c JOIN sets a ON c.id_a = a.doc_id JOIN sets b ON c.id_b = b.doc_id
        WHERE ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) >= {_CUR_JT}
    ),
    inc_sigs AS ({_SIGS}),
    inc_valid AS (
        SELECT * FROM inc_sigs
        WHERE NOT list_contains(list_transform(sig, x -> x IS NULL), true)
    ),
    inc_banded AS (
        SELECT doc_id, (u).b AS band_idx, (u).k AS band_key
        FROM inc_valid, UNNEST([{_BAND_STRUCTS}]) AS t(u)
    ),
    inc_cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM inc_banded a JOIN inc_banded b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),
    -- one-shot est-dedup: drop the higher id of every pair whose
    -- MinHash estimate (agreeing components / {_NUM_HASHES}) clears the
    -- threshold — by the incremental module's parity contract this is
    -- EXACTLY what the engine's three-increment run must accept
    inc_rej AS (
        SELECT DISTINCT c.id_b
        FROM inc_cand c
        JOIN inc_valid sa ON c.id_a = sa.doc_id
        JOIN inc_valid sb ON c.id_b = sb.doc_id
        WHERE CAST({_EST_AGREE_SQL} AS DOUBLE) / {_NUM_HASHES} >= {_INC_T}
    )
    SELECT 'curation' AS variant, detected_lang AS grp,
           COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS metric
    FROM s1 WHERE doc_id NOT IN (SELECT id_b FROM near)
    GROUP BY detected_lang
    UNION ALL
    SELECT 'incremental' AS variant, lang AS grp,
           COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS metric
    FROM documents WHERE doc_id NOT IN (SELECT id_b FROM inc_rej)
    GROUP BY lang
    """,
)
def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus curation, tagged union (one registry slot):

    - ``variant='curation'`` — the flagship training-data pipeline
      composition: quality gate → exact dedup → MinHash-LSH + Jaccard
      near-dup removal → per-language corpus rollup.  One oracle checks
      the whole chain end to end.
    - ``variant='incremental'`` — the daily-increment production shape
      (operators/incremental.py) exercised END TO END: the corpus is
      split into three monotone-id increments, each deduped against the
      band index grown by its predecessors (est-threshold policy), and
      the accepted union rolls up per source language with an id-sum
      checksum.  The oracle is the ONE-SHOT estimate dedup over the
      full corpus — the module's split-invariance parity contract made
      hash-checkable.
    """
    from ..operators.incremental import incremental_dedup, minhash_band_index

    docs = _documents(spark, sf_dir)
    # ONE minhash chain for the whole slot (r14, guide §2.4): the
    # full-corpus band index is materialized once and feeds BOTH arms —
    # the incremental arm slices it per increment (below), and the
    # curation arm derives its LSH candidates from the gated docs'
    # slice of it (curate_corpus's ``banded``) instead of re-running
    # the shingle→md5→min chain over the gated corpus a second time.
    banded = minhash_band_index(
        docs, num_hashes=_NUM_HASHES, bands=_BANDS
    ).localCheckpoint(eager=True)
    surviving = D.curate_corpus(
        docs, banded, min_quality=_CUR_MINQ, jaccard_threshold=_CUR_JT
    )
    curation = (
        surviving.groupBy("detected_lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("metric"),
        )
        .select(
            F.lit("curation").alias("variant"),
            F.col("detected_lang").alias("grp"),
            "n_docs",
            "metric",
        )
    )

    # three fixed id-range increments (one bounded max() probe sizes
    # the cuts; ids are monotone by construction, the policy's contract).
    # The probe reads a RAW parquet scan (r14, guide §5): max() over the
    # split-adapted ``docs`` frame pays its round-robin repartition
    # exchange for one value; the raw scan aggregates the pruned doc_id
    # column with no exchange before the partial agg — identical value.
    hi = (
        read_parquet_table(spark, sf_dir, "documents")
        .agg(F.max("doc_id"))
        .first()[0]
        or 0
    )
    cuts = sorted({hi // 3, (2 * hi) // 3, hi + 1})
    meta = {"num_hashes": _NUM_HASHES, "bands": _BANDS}  # dict-validated, no probe
    # The SAME materialized band pass, sliced per increment (r14, guide
    # §2.4/§5): banding is a pure per-document map, so the full-corpus
    # band rows sliced by id range ARE each increment's band rows AND
    # the union of its predecessors' index rows.  The previous
    # growing-lineage union re-derived every predecessor's minhash
    # chain inside each step's plan — 3+2+1 = 6 chain evaluations per
    # run (measured 4.86 s → 2.47 s for the arm at sf0.1, accepted set
    # bit-identical at sf0.001).  This is the materialization
    # incremental_dedup's ``new_rows`` contract asks for, and what the
    # persisted index_store serve path does (there the materialization
    # is the parquet index itself).
    accepted = None
    lo = None
    for cut in cuts:
        cond = (F.col("doc_id") < cut) if lo is None else (
            (F.col("doc_id") >= lo) & (F.col("doc_id") < cut)
        )
        res = incremental_dedup(
            docs.where(cond),
            banded.where(F.col("doc_id") < (lo if lo is not None else 0)),
            banded.where(cond),
            num_hashes=_NUM_HASHES,
            bands=_BANDS,
            est_threshold=_INC_T,
            index_meta=meta,
        )
        accepted = (
            res.accepted if accepted is None else accepted.unionByName(res.accepted)
        )
        lo = cut
    incremental = (
        accepted.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("metric"),
        )
        .select(
            F.lit("incremental").alias("variant"),
            F.col("lang").alias("grp"),
            "n_docs",
            "metric",
        )
    )
    return curation.unionByName(incremental)


# ------------------------------------------------------------- sampling
_SPLIT_SEED, _TEST_BP = 0, 1000  # 10% test
_SPLIT_MD5 = f"md5('{_SPLIT_SEED}:' || CAST(doc_id AS VARCHAR))"
_BUCKET_SQL = f"({_hex15_to_bigint(_SPLIT_MD5)} % 10000)"


_MIX_SEED = 7
_MIX_WEIGHTS = {"src0": 2.5, "src1": 0.5, "src2": 0.0}  # default 1.0
_MIX_MD5 = f"md5('{_MIX_SEED}:' || CAST(doc_id AS VARCHAR))"
_MIX_BUCKET_SQL = f"({_hex15_to_bigint(_MIX_MD5)} % 10000)"


def _mix_case(value_of) -> str:
    """Whole-epochs / fractional-cut ladders with EXACT int literals
    resolved in Python (mirroring mix_corpus) — FLOOR(w)/CAST((w -
    FLOOR(w)) * 10000) on binary doubles truncates 0.3*10000 to 2999."""
    arms = " ".join(
        f"WHEN '{s}' THEN {value_of(w)}" for s, w in sorted(_MIX_WEIGHTS.items())
    )
    return f"CASE source {arms} ELSE {value_of(1.0)} END"


_MIX_WHOLE_SQL = _mix_case(lambda w: math.floor(w))
_MIX_CUT_SQL = _mix_case(lambda w: int(round((w - math.floor(w)) * 10000)))


@register(
    "q_corpus_split",
    f"""
    SELECT 'split' AS variant, lang AS grp,
           CASE WHEN {_BUCKET_SQL} < {_TEST_BP} THEN 'test' ELSE 'train' END AS bucket,
           COUNT(*) AS n_docs
    FROM documents
    GROUP BY 2, 3
    UNION ALL
    SELECT 'mix' AS variant, source AS grp, 'mixed' AS bucket,
           CAST(SUM(whole + CASE WHEN bh < cut THEN 1 ELSE 0 END) AS BIGINT) AS n_docs
    FROM (SELECT source, {_MIX_WHOLE_SQL} AS whole, {_MIX_CUT_SQL} AS cut,
                 {_MIX_BUCKET_SQL} AS bh
          FROM documents)
    GROUP BY 2
    HAVING SUM(whole + CASE WHEN bh < cut THEN 1 ELSE 0 END) > 0
    """,
)
def q_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus assembly, tagged union (one registry slot):

    - ``variant='split'`` — deterministic train/test assignment:
      membership is a pure function of (doc_id, seed) — identical on
      any cluster, any partitioning, any engine (the reproducibility
      property df.sample() lacks).  Rolled up per language.
    - ``variant='mix'`` — domain-weighted mixing
      (operators/sampling.py mix_corpus): sources consumed at their own
      epoch rates (src0 2.5 epochs, src1 halved, src2 dropped, rest
      1.0), the fractional epoch a stable hash draw.  Rolled up per
      source as the count of emitted copies; the rollup COUNTs the
      actually-exploded rows, so the oracle checks the replication
      itself, not just the arithmetic.
    """
    from ..operators.sampling import mix_corpus, split_column

    docs = _documents(spark, sf_dir)
    split = (
        docs.select("lang", split_column("doc_id", test_fraction=_TEST_BP / 10000, seed=_SPLIT_SEED).alias("split"))
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"))
        .select(
            F.lit("split").alias("variant"),
            F.col("lang").alias("grp"),
            F.col("split").alias("bucket"),
            "n_docs",
        )
    )
    mixed = (
        mix_corpus(docs, _MIX_WEIGHTS, seed=_MIX_SEED)
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"))
        .select(
            F.lit("mix").alias("variant"),
            F.col("source").alias("grp"),
            F.lit("mixed").alias("bucket"),
            "n_docs",
        )
    )
    return split.unionByName(mixed)


# ------------------------------------------------------------ as-of join
@register(
    "q_asof_click_purchase",
    """
    WITH clicks AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    purchases AS (
        SELECT user_id, ts, MAX(value) AS purchase_value
        FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    )
    SELECT c.event_id, c.user_id, c.ts,
           p.purchase_value, p.ts AS matched_ts
    FROM clicks c ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def q_asof_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every click carries the user's most recent prior (or
    simultaneous) purchase value.  Engine side is the union-tag +
    window-fill shape (one shuffle+sort per key — no range explosion);
    the oracle is DuckDB's NATIVE ASOF JOIN, so the semantics are
    checked against an independent first-class implementation."""
    from ..operators.asof import asof_join

    events = read_parquet_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    return asof_join(clicks, purchases, on=["user_id"], payload=["purchase_value"])


# ------------------------------------------------------------ range join
_ATTR_WINDOW_US = 3_600_000_000  # 1 hour


@register(
    "q_range_attribution",
    f"""
    WITH s AS (
        SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS us
        FROM events WHERE event_type = 'signup'
    ),
    c AS (
        SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us
        FROM events WHERE event_type = 'click'
    )
    SELECT s.event_id AS signup_id,
           COUNT(c.us) AS clicks_within_hour
    FROM s LEFT JOIN c
      ON s.user_id = c.user_id
     AND c.us >= s.us AND c.us < s.us + {_ATTR_WINDOW_US}
    GROUP BY 1
    """,
)
def q_range_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution-window range join: count each signup's clicks within
    the following hour.  Engine path is the bucketized interval join
    (equi-join on (user, time-bucket) + residual range filter — never a
    BroadcastNestedLoop); the oracle is the plain BETWEEN join."""
    from ..operators.rangejoin import range_join

    events = read_parquet_table(spark, sf_dir, "events")
    signups = events.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        "user_id",
        F.unix_micros("ts").alias("s_us"),
        (F.unix_micros("ts") + _ATTR_WINDOW_US).alias("e_us"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.unix_micros("ts").alias("c_us")
    )
    hits = range_join(
        clicks, signups, value_col="c_us", start_col="s_us", end_col="e_us",
        bucket_width=_ATTR_WINDOW_US, on=["user_id"],
    )
    counts = hits.groupBy("signup_id").agg(F.count("*").alias("clicks_within_hour"))
    return (
        signups.select("signup_id")
        .join(counts, "signup_id", "left")
        .select("signup_id", F.coalesce("clicks_within_hour", F.lit(0)).alias("clicks_within_hour"))
    )


# ------------------------------------------------- decontamination / packing
def _ngram_sql(n: int) -> str:
    """Distinct word n-grams per document, DuckDB side (the generic form
    of ``_SHINGLES``' fixed trigram)."""
    concat = " || ' ' || ".join(f"t[i+{j}]" for j in range(n))
    return f"""
    SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t) - {n - 1}, 0) + 1),
                                 i -> {concat})) AS s
    FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
    """


_DECON_N = 3  # testdata docs are 10-100 tokens; the 13-gram production
# default (operators.dedup.decontaminate) would flag ~nothing here
_DECON_EVAL = "doc_id % 97 = 0"  # deterministic stand-in eval set


_PACK_BUDGET, _PACK_SPAN = 256, 200
_CHUNK_TOK, _CHUNK_OVL = 32, 8  # testdata docs are 10-100 tokens → 1-4 windows
_CHUNK_STRIDE = _CHUNK_TOK - _CHUNK_OVL

# the two training-batch-preparation steps share one registry slot (the
# driver checks only the first 50 queries — plans/__init__.py) as a
# tagged union with a harmonized (variant, doc_id, metric, bucket)
# schema: decontaminate → metric = n_hits, bucket = contaminated (0/1);
# pack → metric = n_tokens, bucket = pack_id.
_TRAIN_PREP_SQL = f"""
    WITH sh AS ({_ngram_sql(_DECON_N)}),
    hv AS (SELECT doc_id, list_transform(s, x -> {_hex15_to_bigint('md5(x)')}) AS h FROM sh),
    ev AS (SELECT DISTINCT unnest(h) AS g FROM hv WHERE {_DECON_EVAL}),
    corpus AS (SELECT doc_id, unnest(h) AS g FROM hv WHERE NOT ({_DECON_EVAL})),
    hits AS (SELECT doc_id, COUNT(*) AS n FROM corpus JOIN ev USING (g) GROUP BY doc_id),
    sized AS (
        SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
               CAST(doc_id // {_PACK_SPAN} AS BIGINT) AS shard
        FROM documents
    ),
    cum AS (
        SELECT doc_id, n_tokens, shard,
               SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
                   - n_tokens AS tokens_before
        FROM sized
    )
    SELECT 'decontaminate' AS variant, d.doc_id,
           CAST(COALESCE(hits.n, 0) AS BIGINT) AS metric,
           CAST(CASE WHEN COALESCE(hits.n, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS bucket
    FROM (SELECT doc_id FROM documents WHERE NOT ({_DECON_EVAL})) d
    LEFT JOIN hits ON d.doc_id = hits.doc_id
    UNION ALL
    SELECT 'pack' AS variant, doc_id, n_tokens AS metric,
           CAST(shard * {1 << 32}
                + FLOOR(tokens_before / {_PACK_BUDGET}) AS BIGINT) AS bucket
    FROM cum
    UNION ALL
    SELECT 'chunk' AS variant, doc_id,
           CAST(least({_CHUNK_TOK}, len(t) - s) AS BIGINT) AS metric,
           CAST(s // {_CHUNK_STRIDE} AS BIGINT) AS bucket
    FROM (
        SELECT doc_id, t, unnest(range(0, len(t), {_CHUNK_STRIDE})) AS s
        FROM (SELECT doc_id, {_TOKS} AS t FROM documents)
        WHERE len(t) > 0
    )
"""


@register("q_train_prep", _TRAIN_PREP_SQL)
def q_train_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-batch preparation, tagged union (LLM-pipeline extension;
    no reference analog):

    - ``variant='decontaminate'`` — eval-set decontamination (the
      GPT-3/Pile/Llama pre-training step): flag every corpus document
      sharing a word n-gram with the held-out eval slice (deterministic
      doc_id % 97).  Eval shingle hashes broadcast; the check is a
      map-side hash join over the corpus's exploded shingles — linear,
      never all-pairs (operators/dedup.py decontaminate).
      metric = distinct shared shingles, bucket = contaminated 0/1.
    - ``variant='pack'`` — sequence packing for batch construction:
      documents pack into ~256-token samples, sharded by fixed id
      ranges so shards pack independently and in parallel — one
      shuffle, window arithmetic only, output invariant to cluster
      parallelism (operators/packing.py).  metric = n_tokens,
      bucket = pack_id.
    - ``variant='chunk'`` — the packing complement: long documents cut
      into overlapping token windows (32 tokens, overlap 8 — sized to
      the testdata's 10-100-token docs; map-only posexplode of window
      starts, operators/packing.py chunk_documents).  metric = the
      window's token count, bucket = chunk_idx.
    """
    from ..operators.packing import chunk_documents, pack_sequences

    docs = _documents(spark, sf_dir)
    eval_docs = docs.filter(F.expr(_DECON_EVAL))
    corpus = docs.filter(~F.expr(_DECON_EVAL))
    decon = D.decontaminate(corpus, eval_docs, shingle_n=_DECON_N).select(
        F.lit("decontaminate").alias("variant"),
        "doc_id",
        F.col("n_hits").alias("metric"),
        F.col("contaminated").cast("bigint").alias("bucket"),
    )
    packed = pack_sequences(docs, budget_tokens=_PACK_BUDGET, shard_span=_PACK_SPAN).select(
        F.lit("pack").alias("variant"),
        "doc_id",
        F.col("n_tokens").alias("metric"),
        F.col("pack_id").alias("bucket"),
    )
    chunks = chunk_documents(docs, chunk_tokens=_CHUNK_TOK, overlap=_CHUNK_OVL).select(
        F.lit("chunk").alias("variant"),
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("metric"),
        F.col("chunk_idx").cast("bigint").alias("bucket"),
    )
    return decon.unionByName(packed).unionByName(chunks)
