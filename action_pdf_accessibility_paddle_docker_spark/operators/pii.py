"""PII detection / redaction over a text column.

Standard training-data-pipeline scrub (the C4 / Dolma / RedPajama
pipelines all carry an analogous pass): count and mask emails, IPv4
addresses, payment-card numbers, SSNs, and phone numbers (dashed US +
international formats). Everything stays JVM-side --
`regexp_count` / `regexp_replace` run inside whole-stage codegen, so the
pass is a single projection over the scan with no shuffle and no Python.

The patterns are deliberately RE2-compatible (character classes,
bounded quantifiers, ``\\b``; no backreferences or lookaround) so the
DuckDB oracle in plans/queries.py evaluates the exact same regexes.
Redaction order is fixed (email -> IPv4 -> phone) and counts are taken
on the ORIGINAL text, so the two are independent and deterministic.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
SSN_RE = r"\b\d{3}-\d{2}-\d{4}\b"
PHONE_RE = r"\+?\d{1,3}-\d{3}-\d{4}"
# Payment cards, the shapes that actually appear in text: 4-4-4-4
# (Visa/MC/Discover, 16 digits), 4-6-5 (Amex, 15), and contiguous 15-16
# digit runs. Redaction is REGEX-ONLY by design: a per-match Luhn test
# cannot be expressed inside regexp_replace, and for a scrub the safe
# error is over-redaction (a 16-digit order id becomes <CARD>; no card
# survives). `luhn_check` below is the JVM-expression validator for
# pipelines that need to score candidates rather than blanket-mask.
CARD_RE = (
    r"\b\d{4}[ -]\d{4}[ -]\d{4}[ -]\d{4}\b"
    r"|\b\d{4}[ -]\d{6}[ -]\d{5}\b"
    r"|\b\d{15,16}\b"
)
# International phones: +CC then 1-3 separated groups, parenthesized area
# code allowed (+44 20 7946 0958, +1 (555) 123-4567, +91-98765-43210).
# Greedy bounded quantifiers only -- identical leftmost-first behavior on
# Java regex and RE2, same contract as the BPE pretokenizer pattern.
INTL_PHONE_RE = r"\+\d{1,3}[ -]\(?\d{1,5}\)?(?:[ -]\d{2,5}){1,3}\b"

EMAIL_TOKEN = "<EMAIL>"
IPV4_TOKEN = "<IP>"
SSN_TOKEN = "<SSN>"
PHONE_TOKEN = "<PHONE>"
CARD_TOKEN = "<CARD>"


def scrub_pii(text: Column) -> Column:
    """Mask all PII spans, fixed order email -> IPv4 -> card -> SSN ->
    intl phone -> dashed phone. Cards go before the phone/SSN shapes so a
    grouped card number is consumed whole, never half-eaten; SSN before
    the dashed phone (the 3-2-4 shape must not be split); the intl
    pattern eats '+CC-...' forms first and the dashed phone mops up the
    bare N-NNN-NNNN leftovers (both emit <PHONE>, so the overlap is
    harmless and deterministic)."""
    out = F.regexp_replace(text, EMAIL_RE, EMAIL_TOKEN)
    out = F.regexp_replace(out, IPV4_RE, IPV4_TOKEN)
    out = F.regexp_replace(out, CARD_RE, CARD_TOKEN)
    out = F.regexp_replace(out, SSN_RE, SSN_TOKEN)
    out = F.regexp_replace(out, INTL_PHONE_RE, PHONE_TOKEN)
    return F.regexp_replace(out, PHONE_RE, PHONE_TOKEN)


def luhn_check(card: Column) -> Column:
    """Luhn validity of a (possibly separator-grouped) card candidate, as
    a pure JVM expression: strip non-digits, double every second digit
    from the right (minus 9 on overflow), sum mod 10. Higher-order
    functions run interpreted, so this belongs on EXTRACTED CANDIDATES
    (bounded rows), not in the corpus-wide scrub projection -- the scrub
    stays regex-only (see CARD_RE)."""
    digits = F.regexp_replace(card, r"[^0-9]", "")
    chars = F.filter(F.split(F.reverse(digits), ""), lambda c: c != F.lit(""))
    contrib = F.zip_with(
        chars,
        F.sequence(F.lit(1), F.greatest(F.size(chars), F.lit(1))),
        lambda c, i: F.when(i % 2 == 1, c.cast("int")).otherwise(
            c.cast("int") * 2 - F.when(c.cast("int") >= 5, F.lit(9)).otherwise(F.lit(0))
        ),
    )
    total = F.aggregate(contrib, F.lit(0), lambda a, x: a + x)
    return (
        (F.length(digits) >= 13)
        & (F.length(digits) <= 19)
        & (total % 10 == 0)
    )


def card_candidates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One row per card-SHAPED span with its Luhn verdict:
    (id, candidate, luhn_valid) -- the consumable surface for
    ``luhn_check``. Candidate extraction is the same CARD_RE the scrub
    masks, so this is exactly the review queue a compliance pass reads:
    which masked spans were real card numbers vs 16-digit order ids.
    Rows are bounded by card-shaped occurrences (rare), which is where an
    interpreted higher-order fold belongs -- NOT in the corpus-wide
    projection (``pii_stats`` keeps its hot path regex-only unless
    ``validate_cards=True`` is explicitly requested)."""
    t = F.col(text_col)
    return (
        df.select(
            F.col(id_col),
            F.explode(F.regexp_extract_all(t, F.lit(CARD_RE), 0)).alias("candidate"),
        )
        .withColumn("luhn_valid", luhn_check(F.col("candidate")))
    )


def pii_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    validate_cards: bool = False,
) -> DataFrame:
    """Per-document PII counts + the redacted text's fingerprint.

    The md5 of the redacted text (rather than the text itself) keeps the
    result narrow while still pinning the exact redaction byte-for-byte
    against the oracle. The input is widened first (no-op when the scan
    already has enough splits) so a single-row-group file doesn't run the
    whole regex stack in one task; ``redact`` (the streaming/filtering
    form) stays projection-only.

    ``validate_cards=True`` adds ``n_valid_cards``: how many card-shaped
    spans pass the Luhn checksum (``luhn_check`` folded over the
    extracted candidates only -- the interpreted HOF runs on each row's
    candidate list, which is empty for almost every document; the
    default keeps the hot projection strictly regex-only)."""
    from .dedup import _widen

    return _widen(df).select(*_pii_stats_exprs(id_col, text_col, validate_cards))


@lru_cache(maxsize=128)
def _pii_stats_exprs(id_col: str, text_col: str, validate_cards: bool) -> tuple:
    """``pii_stats``' output Columns -- pure functions of the column names,
    compiled once per process (round 8 driver-side build reduction)."""
    t = F.col(text_col)
    valid = (
        [F.size(
            F.filter(
                F.regexp_extract_all(t, F.lit(CARD_RE), 0),
                lambda c: luhn_check(c),
            )
        ).cast("bigint").alias("n_valid_cards")]
        if validate_cards else []
    )
    return (
        F.col(id_col),
        F.regexp_count(t, F.lit(EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(t, F.lit(IPV4_RE)).cast("bigint").alias("n_ips"),
        F.regexp_count(t, F.lit(CARD_RE)).cast("bigint").alias("n_cards"),
        *valid,
        F.regexp_count(t, F.lit(SSN_RE)).cast("bigint").alias("n_ssns"),
        # independent signals on the ORIGINAL text: a +CC-prefixed dashed
        # number counts in both phone columns (redaction order still
        # yields exactly one <PHONE>)
        F.regexp_count(t, F.lit(INTL_PHONE_RE)).cast("bigint").alias("n_intl_phones"),
        F.regexp_count(t, F.lit(PHONE_RE)).cast("bigint").alias("n_phones"),
        F.md5(scrub_pii(t)).alias("redacted_fp"),
    )


def redact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Same scrub, returning the full redacted text column in place."""
    return df.withColumn(text_col, scrub_pii(F.col(text_col)))
