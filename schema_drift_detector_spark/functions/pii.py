"""PII detection and redaction for training-corpus hygiene.

The standard pre-training scrub pass: find/replace e-mail addresses,
bare IPv4 addresses, E.164-style phone numbers, and US-SSN-shaped
digit groups before text reaches a model. The reference engine has no
data plane; this is an LLM-pipeline-first-class corpus operator.

Everything stays in whole-stage codegen — chained ``regexp_replace`` /
``regexp_count`` column expressions, no Python in the hot path — so at
100 TB the scrub is a wide single scan with zero shuffle.

Cross-engine contract: every pattern below is written in the dialect
intersection of Java regex (Spark) and RE2 (DuckDB) — character
classes, bounded quantifiers, ``\\b`` word boundaries; NO lookaround,
NO backreferences (RE2 lacks them), NO ambiguous alternations (Java is
leftmost-first, RE2 leftmost-longest — pure greedy quantifiers agree,
alternations may not). Redaction applies the patterns in the fixed
``PII_PATTERNS`` order; e-mail runs first so an address's host part is
never re-matched as a bare IP.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ordered: e-mail before ipv4 (see module docstring); each value is
# (pattern, replacement sentinel)
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ssn": (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    "ipv4": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    "phone": (r"\+\d{7,15}\b", "<PHONE>"),
}


def pii_counts(text: Column | str) -> Column:
    """struct<n_email, n_ssn, n_ipv4, n_phone> — non-overlapping match
    counts per kind over the RAW text (before redaction), int. NULL
    text → NULL fields."""
    c = F.col(text) if isinstance(text, str) else text
    return F.struct(
        *[
            F.regexp_count(c, F.lit(pat)).cast("int").alias(f"n_{kind}")
            for kind, (pat, _) in PII_PATTERNS.items()
        ]
    )


def pii_redact(text: Column | str) -> Column:
    """The text with every PII match replaced by its kind's sentinel,
    patterns applied in ``PII_PATTERNS`` order. NULL-safe (null in →
    null out)."""
    c = F.col(text) if isinstance(text, str) else text
    for pat, repl in PII_PATTERNS.values():
        c = F.regexp_replace(c, pat, repl)
    return c


def pii_counts_sql(text_expr: str) -> list[str]:
    """DuckDB expressions mirroring pii_counts, one per kind in order —
    ``len(regexp_extract_all(...))`` equals Spark's regexp_count
    (both count non-overlapping leftmost matches)."""
    return [
        f"CAST(CASE WHEN {text_expr} IS NULL THEN NULL "
        f"ELSE len(regexp_extract_all({text_expr}, '{pat}')) END AS INT) AS n_{kind}"
        for kind, (pat, _) in PII_PATTERNS.items()
    ]


def pii_redact_sql(text_expr: str) -> str:
    """DuckDB expression mirroring pii_redact (global flag, same
    pattern order)."""
    e = text_expr
    for pat, repl in PII_PATTERNS.values():
        e = f"regexp_replace({e}, '{pat}', '{repl}', 'g')"
    return e
