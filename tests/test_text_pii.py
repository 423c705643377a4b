"""PII redaction (operators/text.py redact_pii / pii_counts /
pii_profile) — the pre-training scrub.

Contracts:

1. each pattern kind hits its target and ONLY its target, and the
   redaction order protects earlier kinds (an email's digits are never
   half-eaten by a phone rule, a dotted quad never by phone_dashed);
2. cross-engine parity: Spark (Java regex, leftmost-first) and DuckDB
   (RE2, leftmost-longest) produce byte-identical redacted text on a
   PII-dense fixture — the patterns are written in the common subset
   (no alternation/lookaround) precisely so this holds;
3. NULL/empty propagation and count totals.
"""

from __future__ import annotations

import pytest

from meta_morph_etl_databricks_spark.operators.text import (
    PII_PATTERNS,
    pii_counts,
    pii_profile,
    redact_pii,
)

DSCHEMA = "doc_id long, text string"

FIXTURE = [
    (1, "contact bob.smith+spam@mail.example.co.uk or +14155550123 today"),
    (2, "server 10.0.255.7 and 192.168.1.1 rebooted; ticket 555-123-4567"),
    (3, "no pii here, just words and the number 42"),
    (4, "alice@example.com wrote to carol@example.org from 8.8.8.8"),
    (5, ""),
    (6, None),
    (7, "edge: a@b.cd then +1234567 then 123-456-7890x999"),
    (8, "digits 1234567890123 without plus are NOT an intl phone"),
    (9, "bob+14155550123@mail.com hides a phone-shaped local part"),
    (10, "ssn 123-45-6789 next to phone 123-456-7890 — disjoint widths"),
    (11, "card 4111111111111111 and a 12-digit run 123456789012 (no match)"),
    (12, "v6 2001:0db8:85a3:0000:0000:8a2e:0370:7334 but ::1 is compressed"),
    (13, "17 digits 12345678901234567 are neither card nor phone"),
    (14, "fe80:1:2:3:4:5:6:7 short-group v6; 1.2.3.4 stays an ipv4"),
    (15, "intl-length pan +4111111111111111 is typed as an intl phone"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(FIXTURE, "doc_id long, text string")


def test_redaction_kinds_and_order(spark, docs):
    out = {r.doc_id: r.redacted for r in pii_profile(docs).collect()}
    assert out[1] == "contact <PII:email> or <PII:phone_intl> today"
    assert out[2] == "server <PII:ipv4> and <PII:ipv4> rebooted; ticket <PII:phone_dashed>"
    assert out[3] == "no pii here, just words and the number 42"
    assert out[4] == "<PII:email> wrote to <PII:email> from <PII:ipv4>"
    assert out[5] == ""
    assert out[6] is None
    # x999 tail is outside the fixed-width dashed pattern's \b? no —
    # 'x' is a non-word char boundary? 'x' IS a word char, so \b does
    # not hold after 7890 and the dashed rule must NOT fire
    assert out[7] == "edge: <PII:email> then <PII:phone_intl> then 123-456-7890x999"
    # 13 contiguous digits: not an intl phone (no +), but since r9 a
    # card-shaped PAN run — redacted as card, not left in the clear
    assert out[8] == "digits <PII:card> without plus are NOT an intl phone"
    assert out[9] == "<PII:email> hides a phone-shaped local part"
    assert out[10] == "ssn <PII:ssn> next to phone <PII:phone_dashed> — disjoint widths"
    assert out[11] == "card <PII:card> and a 12-digit run 123456789012 (no match)"
    assert out[12] == "v6 <PII:ipv6> but ::1 is compressed"
    assert out[13] == "17 digits 12345678901234567 are neither card nor phone"
    assert out[14] == "<PII:ipv6> short-group v6; <PII:ipv4> stays an ipv4"
    # precedence fix (round-10 verdict task 6, reversing the r9 trade):
    # the anchored '\+' pattern now runs BEFORE card and spans up to 16
    # digits, so a '+'-prefixed PAN-width run is typed phone_intl with
    # the '+' consumed — '+' is strong phone evidence, and bare digit
    # runs are unreachable by the anchored pattern so card keeps every
    # contiguous PAN (rows 8/11/13 unchanged).  Engine and oracle share
    # the order, so parity holds by construction.
    assert out[15] == "intl-length pan <PII:phone_intl> is typed as an intl phone"


def test_counts_and_total(spark, docs):
    rows = {r.doc_id: r for r in pii_profile(docs).collect()}
    assert (rows[1].pii.n_email, rows[1].pii.n_phone_intl) == (1, 1)
    assert rows[1].n_pii == 2
    assert rows[2].pii.n_ipv4 == 2 and rows[2].pii.n_phone_dashed == 1
    assert rows[2].n_pii == 3
    assert rows[3].n_pii == 0
    assert rows[6].n_pii is None  # NULL text → NULL counts, not zero
    # counts follow redaction precedence: the +digits inside doc 9's
    # email local part are redacted AS the email, so they must not
    # double-count as a phone (one PII item, not two)
    assert (rows[9].pii.n_email, rows[9].pii.n_phone_intl) == (1, 0)
    assert rows[9].n_pii == 1


def test_duckdb_parity_byte_identical(spark, docs):
    """The load-bearing cross-dialect pin: RE2 with the 'g' flag must
    produce the SAME redacted bytes as Spark's Java regex for every
    fixture row — this is what lets a DuckDB-oracled query ever carry
    these patterns, and what documents the common-subset discipline."""
    import duckdb

    got = {r.doc_id: r.redacted for r in pii_profile(docs).collect()}
    con = duckdb.connect()
    # patterns ride in as PARAMETERS — standard-SQL string literals do
    # not process backslash escapes, so inlining would need no doubling
    # and parameters sidestep the question entirely
    expr, params = "text", []
    for kind in PII_PATTERNS:
        expr = f"regexp_replace({expr}, ?, '<PII:{kind}>', 'g')"
        params.append(PII_PATTERNS[kind])
    con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", FIXTURE)
    # each wrap nests on the LEFT and appends its ? on the right, so
    # the ?s appear textually in application order — bind as-is
    want = dict(con.execute(f"SELECT doc_id, {expr} FROM t", params).fetchall())
    assert got == want


def test_custom_kinds_and_token(spark, docs):
    out = {
        r.doc_id: r.redacted
        for r in docs.select(
            "doc_id", redact_pii("text", kinds=["email"], token="[{kind}]").alias("redacted")
        ).collect()
    }
    assert out[1] == "contact [email] or +14155550123 today"  # phones untouched
    assert out[2] == FIXTURE[1][1]  # ipv4 untouched when only email asked


def test_planted_rates_on_corpus(spark):
    """The declared query's PII gate on real corpus data: every doc
    gets EXACTLY its planted item (residue → kind, one match, zero for
    the control residue) — i.e. the base corpus contributes no
    accidental PII and the planting recipe and patterns agree."""
    from pyspark.sql import functions as F

    from meta_morph_etl_databricks_spark.plans.ml_queries import (
        PII_PLANT_KINDS,
        q_text_profile,
    )

    df = q_text_profile(spark, "/root/testdata/sf0.001").select(
        "doc_id", "n_pii", *[f"n_pii_{k}" for k in PII_PATTERNS]
    )
    assert df.count() > 0
    res = F.col("doc_id") % 8
    assert df.filter((res < 7) & (F.col("n_pii") != 1)).count() == 0
    assert df.filter((res == 7) & (F.col("n_pii") != 0)).count() == 0
    for i, kind in enumerate(PII_PLANT_KINDS):
        assert df.filter((res == i) & (F.col(f"n_pii_{kind}") != 1)).count() == 0


def test_token_with_replacement_metacharacters(spark, docs):
    """`$` and `\\` are group-reference metacharacters in Java's
    replacement lane — a caller token containing them must land
    literally (Matcher.quoteReplacement semantics), not throw or splice
    match groups (round-8 advice)."""
    out = {
        r.doc_id: r.redacted
        for r in docs.select(
            "doc_id",
            redact_pii("text", kinds=["email"], token="$0\\{kind}$").alias("redacted"),
        ).collect()
    }
    assert out[4] == "$0\\email$ wrote to $0\\email$ from 8.8.8.8"


def test_lang_id_single_language_markers(spark):
    from meta_morph_etl_databricks_spark.operators.text import (
        lang_id,
        profile_documents,
    )

    docs = spark.createDataFrame(
        [(0, "the cat and the hat"), (1, "zzz qqq")], DSCHEMA
    )
    got = {
        r.doc_id: r.lang
        for r in docs.select(
            "doc_id", lang_id("text", {"en": ["the", "and"]}).alias("lang")
        ).collect()
    }
    assert got == {0: "en", 1: None}
    prof = profile_documents(docs, markers={"en": ["the", "and"]})
    langs = {r.doc_id: r.detected_lang for r in prof.collect()}
    assert langs == {0: "en", 1: None}


def test_pii_empty_kinds_and_token_invariant(spark):
    from meta_morph_etl_databricks_spark.operators.text import pii_counts, redact_pii

    docs = spark.createDataFrame([(0, "mail me: a@b.com")], DSCHEMA)
    # explicit empty selection redacts/counts NOTHING (was: everything)
    out = docs.select(redact_pii("text", kinds=[]).alias("t")).first()["t"]
    assert out == "mail me: a@b.com"
    assert docs.select(pii_counts("text", kinds=[]).alias("p")).first()["p"] == ()
    # a token that itself renders PII-shaped is rejected at the boundary
    with pytest.raises(ValueError, match="token"):
        redact_pii("text", token="<{kind}#4111111111111111>")


def test_profile_null_text_is_uniformly_zero(spark):
    """NULL-text rows previously profiled INCONSISTENTLY (n_tokens 0
    but n_bpe_tokens NULL, review finding).  The adversarial contract
    pins profile metrics non-NULL/bounded (total downstream ordering),
    so the row is now uniformly zeros."""
    from meta_morph_etl_databricks_spark.operators.text import profile_documents

    docs = spark.createDataFrame([(0, None), (1, "two words")], DSCHEMA)
    rows = {r.doc_id: (r.n_tokens, r.n_bpe_tokens) for r in profile_documents(docs).collect()}
    assert rows[0] == (0, 0)  # self-consistent, non-NULL
    assert rows[1][0] == 2
