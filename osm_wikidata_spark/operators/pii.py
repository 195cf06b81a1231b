"""PII detection and redaction for training-data pipelines.

Regex-pattern scanning for the four PII/link classes every public
pretraining pipeline handles (C4, The Pile, Dolma's pii taggers): email
addresses, IPv4 addresses, phone numbers, and URLs.  Detection returns
per-document counts (the filter/audit signal); redaction rewrites the
text with typed placeholder tokens (the transform).

Every pattern is deliberately restricted to the syntax intersection of
Java regex (Spark) and RE2 (DuckDB / the oracle): no lookaround, no
backreferences, ASCII word boundaries only — the SAME pattern string runs
on both engines, so the operators carry exact value oracles.  This is a
pattern-recall tradeoff, not a limitation: lookahead-dependent phone
grammars gain little at corpus scale and cost engine portability (the
same decision as textstats.BPE_PRETOKEN_PATTERN).

Scale shape: pure JVM column expressions (``regexp_extract_all`` /
``regexp_replace``) — one narrow projection, no shuffle, no UDF; the scan
pipelines into whatever filter/write follows it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# ordered: URL first so an email/IP inside a URL is swallowed by the URL
# token instead of leaving a half-redacted scheme behind
URL_PATTERN = r"https?://[^\s\"'<>]+"
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_PATTERN = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
# international +CC form, or North-American 415-555-0199 / 415.555.0199
PHONE_PATTERN = r"\+\d{7,15}\b|\b\d{3}[-.]\d{3}[-.]\d{4}\b"

REDACTION_ORDER: list[tuple[str, str, str]] = [
    ("url", URL_PATTERN, "<URL>"),
    ("email", EMAIL_PATTERN, "<EMAIL>"),
    ("ipv4", IPV4_PATTERN, "<IP>"),
    ("phone", PHONE_PATTERN, "<PHONE>"),
]


def pii_counts(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_urls, n_emails, n_ipv4, n_phones, n_pii) — per-document
    match counts for each class plus the email+ip+phone total (URLs are
    links, not PII; they get their own column and stay out of the total).
    Null text counts as zero everywhere."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    counted = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.regexp_extract_all(t, F.lit(URL_PATTERN), F.lit(0))).alias("n_urls"),
        F.size(F.regexp_extract_all(t, F.lit(EMAIL_PATTERN), F.lit(0))).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(t, F.lit(IPV4_PATTERN), F.lit(0))).alias(
            "n_ipv4"
        ),
        F.size(F.regexp_extract_all(t, F.lit(PHONE_PATTERN), F.lit(0))).alias(
            "n_phones"
        ),
    )
    return counted.withColumn(
        "n_pii", F.col("n_emails") + F.col("n_ipv4") + F.col("n_phones")
    )


def redact_pii(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, text) with every match replaced by its class placeholder,
    applied in :data:`REDACTION_ORDER` (URL swallows embedded emails/IPs
    first).  Placeholders contain no regex-significant characters, so the
    passes cannot cascade into each other."""
    out = F.col(text_col)
    for _, pattern, token in REDACTION_ORDER:
        out = F.regexp_replace(out, pattern, token)
    return docs.select(F.col(id_col).alias("doc_id"), out.alias("text"))
