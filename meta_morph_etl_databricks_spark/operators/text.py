"""Text-analysis operators over the ``documents`` table — the
training-data-pipeline extension layer (BASELINE.json north star; the
reference has no text ops, so these are new capabilities designed
Spark-first).

Everything is built from JVM-side column expressions (split, regexp,
aggregate HOFs) — no Python in the hot path, so the operators scale to
100 TB exactly like any relational plan: narrow projections, map-only
where possible, one shuffle only when grouping.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets for the n-gram language-ID
# heuristic.  Deliberately minimal and deterministic — a real deployment
# would swap in fastText/CLD3 via a pandas UDF; the heuristic keeps the
# plumbing (schema, scoring, argmax) identical and testable.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "las", "una", "del"],
    "de": ["der", "die", "und", "das", "ein"],
    "zh": ["的", "是", "了", "在", "我"],
}

# Whitespace spelled EXPLICITLY instead of \s: Java's \s matches
# vertical tab (\x0B) but RE2's (DuckDB, the oracle engine) does not,
# so any \s in a tokenizer/normalizer silently diverges between the
# engine and its oracle on the first \x0B in a corpus (found by the
# fingerprint-class parity property test).  Both regex dialects
# interpret these escapes identically inside a character class; the
# class equals Java's \s, so Spark-side values are unchanged.
WS_CLASS = r" \t\n\r\f\x0B"
_WS_RUN = rf"[{WS_CLASS}]+"

# ASCII-only case folding for normalization/marker matching: full
# Unicode lower() is LOCALE- and ENGINE-dependent — Java lowers 'İ' to
# "i̇" (combining dot) and applies Greek final-sigma rules
# ('ΑΣ'→'ας') while DuckDB maps 'İ'→'i' and 'Σ'→'σ' unconditionally —
# so any lower() in an oracle-checked expression diverges on real
# Turkish/Greek text.  A translate over [A-Z] is identical in every
# engine; non-ASCII case differences are deliberately preserved
# (portability of the dedup class algebra beats marginally higher
# dup recall on non-ASCII case variants).
_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_LOWER = "abcdefghijklmnopqrstuvwxyz"


def ascii_lower(c: Column) -> Column:
    return F.translate(c, _UPPER, _LOWER)


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization with empty-token removal (the BPE-ish
    regex path is token_count's ``\\w+|[^\\w\\s]`` form)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.trim(c), _WS_RUN), lambda t: t != "")


def shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles via sequence+transform HOFs (no UDF):
    tokens t₀..tₖ → [t₀..tₙ₋₁], [t₁..tₙ], ...  Empty when < n tokens.

    The k < n case MUST be gated before building the index sequence:
    Spark's sequence(1, 0) yields a DESCENDING [1, 0], and element_at
    then throws under ANSI mode (when/otherwise evaluates lazily, so the
    guarded branch never runs for short docs).

    Each gram is ONE slice+array_join, not n element_at lookups fed to
    concat_ws — the transform lambda runs interpreted per gram, and the
    2-op body halves the whole shingle stage (1.01 s → 0.50 s over the
    sf0.1 corpus' 260k grams; the win grows with n — decontamination
    runs n=13).  Identical strings: tokens are non-null non-empty, so
    array_join == concat_ws, and the 1-based slice window equals the
    element_at(i..i+n-1) triple."""
    toks = tokens(text)
    k = F.size(toks)
    idx = F.sequence(F.lit(1), k - (n - 1))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
    return F.when(k >= n, grams).otherwise(F.array().cast("array<string>"))


def token_count(text: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column | str) -> Column:
    """Sub-word-ish token count: words plus standalone punctuation
    (``\\w+|[^\\w\\s]``) — the cheap proxy for a BPE tokenizer's token
    budget, as one JVM regexp pass."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(rf"\w+|[^\w{WS_CLASS}]"), 0))


def stopword_hits(text: Column | str, markers: list[str]) -> Column:
    """How many tokens are in the marker set (aggregate HOF, no UDF)."""
    toks = tokens(text)
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, ascii_lower(t))))


def lang_id(text: Column | str, markers: dict[str, list[str]] | None = None) -> Column:
    """Language-ID heuristic: argmax over per-language marker-token hit
    counts; NULL when no marker hits at all (unknown).

    Implemented as a greatest-of-structs trick: struct(hits, lang) max
    is lexicographic, so ties break toward the lexicographically LAST
    language code — deterministic.  One projection, no shuffle.
    """
    markers = markers or LANG_MARKERS
    candidates = [
        F.struct(stopword_hits(text, words).alias("hits"), F.lit(lang).alias("lang"))
        for lang, words in markers.items()
    ]
    # greatest() needs >= 2 columns — a one-language marker dict (a
    # caller restricting detection) is its own argmax (r12 review)
    best = candidates[0] if len(candidates) == 1 else F.greatest(*candidates)
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit(None).cast("string"))


def fingerprint(text: Column | str, normalize: bool = True) -> Column:
    """Document fingerprint: xxhash64 over the normalized text
    (ASCII-lowercased — see :func:`ascii_lower` for why full Unicode
    folding is not portable — and collapsed whitespace) — the exact-dup
    key.  64-bit,
    fixed-width, shuffle-friendly."""
    c = F.col(text) if isinstance(text, str) else text
    if normalize:
        # collapse BEFORE trimming: Spark's trim strips only the space
        # character, so trim-first leaves "\thello" ≠ "hello" and splits
        # whitespace-only docs into two classes ("  " → "" but " \t " →
        # " ").  Collapsing whitespace runs to single spaces first makes
        # the edges plain spaces, which trim then removes — the same
        # class algebra as the oracle's trim(regexp_replace(...)).
        c = F.trim(F.regexp_replace(ascii_lower(c), _WS_RUN, " "))
    return F.xxhash64(c)


def profile_documents(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    markers: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Distributed text profile (same values as the Column forms, with
    ONE deliberate divergence: NULL-text rows profile as zeros, not
    NULL — every metric stays non-NULL and bounded so downstream
    ORDER BY/filters are total, the adversarial-text contract):
    explode tokens ONCE, count language-marker hits with a plain
    codegen'd aggregate (isin over literal lists — no interpreted HOFs),
    join doc-level regex stats back on id.

    The Column-expression forms (:func:`lang_id`, :func:`token_count`)
    re-walk the token array per language on the interpreted HOF path —
    ~10× slower when the optimizer can't prune them.  Use this for any
    full-corpus profiling pass.

    Adds to ``docs``: n_tokens, n_bpe_tokens, detected_lang, quality,
    doc_fingerprint.
    """
    markers = markers or LANG_MARKERS
    c = F.col(text_col)
    tok = docs.select(F.col(id_col), F.explode_outer(tokens(text_col)).alias("_t"))
    low = ascii_lower(F.col("_t"))
    hits = tok.groupBy(id_col).agg(
        F.count("_t").alias("_n_tokens"),
        *[F.count(F.when(low.isin(words), 1)).alias(f"_h_{lang}") for lang, words in markers.items()],
    )
    base = docs.select(
        "*",
        F.length(c).alias("_n_chars"),
        F.length(F.regexp_replace(c, rf"[\w{WS_CLASS}]", "")).alias("_punct"),
        F.length(F.regexp_replace(c, r"[^A-Za-z]", "")).alias("_alpha"),
    )
    joined = base.join(hits, id_col)

    lang_structs = [
        F.struct(F.col(f"_h_{lang}").alias("hits"), F.lit(lang).alias("lang"))
        for lang in markers
    ]
    # single-language markers: see lang_id (greatest needs >= 2 cols)
    best = lang_structs[0] if len(lang_structs) == 1 else F.greatest(*lang_structs)
    detected = F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit(None).cast("string"))
    n_tok = F.col("_n_tokens")
    n_chars_d = F.col("_n_chars").cast("double")
    mwl = F.when(n_tok > 0, n_chars_d / n_tok).otherwise(F.lit(0.0))
    punct_ratio = F.when(F.col("_n_chars") > 0, F.col("_punct").cast("double") / F.col("_n_chars")).otherwise(F.lit(1.0))
    alpha_ratio = F.when(F.col("_n_chars") > 0, F.col("_alpha").cast("double") / F.col("_n_chars")).otherwise(F.lit(0.0))
    word_len_ok = F.when((mwl >= 3) & (mwl <= 12), F.lit(1.0)).otherwise(F.lit(0.0))
    quality = F.round((word_len_ok + (1.0 - punct_ratio) + alpha_ratio) / 3.0, 4)

    return joined.select(
        *docs.columns,
        n_tok.alias("n_tokens"),
        # NULL text profiles as ZEROS across the board (r12 review made
        # the row self-consistent: n_tokens was 0 but n_bpe_tokens NULL).
        # Zeros — not the Column forms' NULL — are deliberate here: the
        # adversarial contract pins every profile metric non-NULL and
        # bounded so downstream ORDER BY/filters stay total.
        F.coalesce(
            bpe_ish_token_count(text_col).cast("bigint"), F.lit(0).cast("bigint")
        ).alias("n_bpe_tokens"),
        detected.alias("detected_lang"),
        quality.alias("quality"),
        fingerprint(text_col).alias("doc_fingerprint"),
    )


def repetition_profile(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    dense: bool = True,
) -> DataFrame:
    """Gopher-style repetition signals per document — the corpus-quality
    rules that catch boilerplate and spam which length/punct ratios
    miss: ``dup_gram_frac`` = fraction of n-gram occurrences that are
    repeats (1 - distinct/total), ``top_gram_frac`` = share of the
    single most frequent n-gram.

    Distributed shape: explode n-grams → count per (doc, gram) → per-doc
    max/total/distinct — two hash aggregations with map-side combine,
    never a per-doc O(len²) HOF mode-scan.  Documents shorter than ``n``
    tokens have no grams and report 0.0 fractions (``dense=True``); with
    ``dense=False`` they are simply absent — the cheaper form for
    callers that already hold a full-coverage frame to left-join onto
    (it skips one extra scan of ``docs`` and the coverage join).
    """
    grams = docs.select(F.col(id_col), F.explode(shingles(text_col, n)).alias("_g"))
    per = grams.groupBy(id_col, "_g").agg(F.count("*").alias("_c"))
    stats = per.groupBy(id_col).agg(
        F.sum("_c").alias("n_grams"),
        F.max("_c").alias("_top"),
        F.count("*").alias("_distinct"),
    )
    total = F.col("n_grams").cast("double")
    fracs = stats.select(
        id_col,
        "n_grams",
        F.round(F.lit(1.0) - F.col("_distinct").cast("double") / total, 4).alias("dup_gram_frac"),
        F.round(F.col("_top").cast("double") / total, 4).alias("top_gram_frac"),
    )
    if not dense:
        return fracs
    return (
        docs.select(id_col)
        .join(fracs, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0).cast("bigint")).alias("n_grams"),
            F.coalesce("dup_gram_frac", F.lit(0.0)).alias("dup_gram_frac"),
            F.coalesce("top_gram_frac", F.lit(0.0)).alias("top_gram_frac"),
        )
    )


# PII patterns restricted to the Java/RE2 COMMON SUBSET: concatenated
# greedy bounded quantifiers over explicit classes — no alternation, no
# backreferences, no lookaround.  Java regex is leftmost-FIRST
# (backtracking) while RE2 (DuckDB) is leftmost-LONGEST; alternation is
# where they visibly diverge (`a|ab` on "ab" matches "a" in Java, "ab"
# in RE2), so none is used.  Cross-engine equality on these patterns is
# pinned by tests/test_text_pii.py's DuckDB parity case.
#
# Dict order is REDACTION order and load-bearing — each rule must not be
# able to half-eat a LATER rule's target, so more-structured shapes run
# first:
#
# - email first: its local part may contain digit runs (phone/card
#   shapes) that belong to the email, not to a later rule;
# - ipv6 before ipv4: an IPv4-mapped tail aside (compressed `::` forms
#   need alternation and are documented out of the subset), hex groups
#   must not have embedded all-digit groups picked off;
# - ipv4 before the dashed/digit-run rules: dotted quads are digit runs
#   with structure — the dots break \b digit runs, but the quad must be
#   typed as an address, not left for a weaker rule;
# - ssn before card/phones: 3-2-4 dashed digits are fully structured
#   and disjoint from phone_dashed's 3-3-4 by the middle width;
# - phone_intl before card (r11, closing the round-10 precedence
#   misattribution): the '+' ANCHOR makes the reorder safe — a bare
#   13–16 digit run has no '+' and cannot be touched by phone_intl, so
#   card still gets every contiguous PAN; but a '+'-prefixed run is
#   strong phone evidence and now wins.  The width runs to 16 (past
#   E.164's 15) deliberately: a '+' followed by a PAN-width digit run
#   should be typed as an over-long intl phone, with the '+' consumed,
#   not leave the '+' in the clear and the digits typed card (the r10
#   trade, reversed here — fixture row 15 pins the flip on BOTH
#   engines).  card itself stays a plain 13–16 digit run — the common
#   contiguous-PAN shape; separator-grouped PANs need optional-
#   separator groups whose backtracking order is NOT in the proven
#   common subset, so they are deliberately out;
# - the dashed phone shape last — the least structured digit pattern.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv6": r"\b[0-9A-Fa-f]{1,4}(:[0-9A-Fa-f]{1,4}){7}\b",  # full 8-group form
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",        # fixed 3-2-4: no elasticity
    "phone_intl": r"\+\d{7,16}\b",          # E.164-ish + PAN-width: one quantifier
    "card": r"\b\d{13,16}\b",               # contiguous PAN digit run
    "phone_dashed": r"\b\d{3}-\d{3}-\d{4}\b",  # fixed widths: no elasticity
}


# The ONE placeholder literal both redact_pii (replacement) and
# pii_counts (neutralizing earlier kinds before counting later ones)
# substitute — load-bearing invariant: it must never itself match a
# later pattern (no digits, no '@', and never 8 colon-joined hex
# groups), or a replacement would CREATE matches and counts would
# diverge from the redacted output.
_PII_TOKEN = "<PII:{kind}>"


def _quote_replacement(s: str) -> str:
    """Escape ``\\`` and ``$`` for Java's regexp_replace REPLACEMENT
    lane (Matcher.quoteReplacement semantics), where both are
    group-reference metacharacters — a caller token like ``"$1"`` would
    otherwise throw or splice match groups into the output.  Applied to
    the FORMATTED token only; patterns are never touched."""
    return s.replace("\\", "\\\\").replace("$", "\\$")


def redact_pii(
    text: Column | str,
    kinds: list[str] | None = None,
    token: str = _PII_TOKEN,
) -> Column:
    """Replace every PII match with a typed placeholder — the standard
    pre-training scrub (RefinedWeb/FineWeb pipelines redact emails, IPs
    and phone numbers exactly like this).  Chained ``regexp_replace``
    column expressions: map-only, JVM-side, whole-stage-codegen'd — at
    100 TB this is a projection, not a job.  Spark's regexp_replace is
    global by default (DuckDB needs the explicit 'g' flag — see the
    parity test).

    ``kinds=[]`` redacts nothing (r12 review: the old falsy-list
    fallback silently redacted ALL kinds for an explicit empty
    selection); ``kinds=None`` means every kind.  The rendered ``token``
    must not itself MATCH any PII pattern — the no-new-matches
    invariant the precedence chain depends on is enforced here, not
    just documented (checked against the patterns themselves, not a
    crude no-digits rule: the default token legitimately renders
    ``<PII:ipv6>``)."""
    out = F.col(text) if isinstance(text, str) else text
    selected = list(PII_PATTERNS) if kinds is None else list(kinds)
    for kind in selected:
        rendered = token.format(kind=kind)
        for pat_kind, pat in PII_PATTERNS.items():
            if _re.search(pat, rendered):
                raise ValueError(
                    f"replacement token {rendered!r} itself matches the "
                    f"{pat_kind!r} PII pattern — an earlier kind's replacement "
                    "would CREATE later matches (nested redaction, counts "
                    "diverging from the redacted output)"
                )
        out = F.regexp_replace(
            out, PII_PATTERNS[kind], _quote_replacement(rendered)
        )
    return out


def pii_counts(text: Column | str, kinds: list[str] | None = None) -> Column:
    """Per-kind match counts as a struct — the audit signal a curation
    run reports next to the redacted text (docs with extreme counts are
    list-like spam, usually dropped rather than scrubbed).

    Counts follow REDACTION PRECEDENCE: kind k is counted on the text
    with all earlier kinds already replaced, exactly like
    :func:`redact_pii` matches — otherwise the digits inside an email's
    local part (``bob+14155550123@mail.com``) would double-count as a
    phone the redaction never touches, and the totals would disagree
    with the redacted output (round-8 review finding).  The placeholder
    token contains no digits/@, so a replacement never CREATES a later
    match.  ``kinds=[]`` counts nothing (see redact_pii)."""
    cur = F.col(text) if isinstance(text, str) else text
    counts = []
    for k in list(PII_PATTERNS) if kinds is None else list(kinds):
        counts.append(F.regexp_count(cur, F.lit(PII_PATTERNS[k])).alias(f"n_{k}"))
        cur = F.regexp_replace(cur, PII_PATTERNS[k], _PII_TOKEN.format(kind=k))
    return F.struct(*counts)


def pii_profile(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    kinds: list[str] | None = None,
) -> DataFrame:
    """(id, redacted text, per-kind counts, total) — one map-only
    projection over the corpus.  NULL text stays NULL with NULL counts
    (regexp functions propagate NULL; no crash, no phantom zero row).
    ``kinds=[]`` selects nothing (see redact_pii)."""
    ks = list(PII_PATTERNS) if kinds is None else list(kinds)
    staged = docs.select(
        id_col,
        redact_pii(text_col, ks).alias("redacted"),
        pii_counts(text_col, ks).alias("pii"),
    )
    total = None
    for k in ks:
        c = F.col(f"pii.n_{k}")
        total = c if total is None else total + c
    return staged.withColumn("n_pii", total)
