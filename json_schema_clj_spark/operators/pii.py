"""PII detection and redaction over text columns — the compliance pass a
training-data pipeline runs before anything ships: count pattern hits per
document (scan) and rewrite the text with typed placeholders (redact).

Pure Column expressions; every pattern is written in the Java-regex /
RE2 common subset (same discipline as the `format` keyword table and the
format-conformance profile, operators/stats.py) so a DuckDB oracle
replicates hit counts and redacted text byte-for-byte.  Both engines use
leftmost non-overlapping matching and global replacement, so multi-pattern
redaction applied in the same fixed order is deterministic and identical.

Scale shape: per-row predicates over the scan — no shuffle, no Python,
fully pipeline-able with whatever else reads the text column.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ordered dict: redaction applies in insertion order (email first — a
# redacted [EMAIL] token contains no digits, so later numeric patterns
# can't re-match inside it; the order is part of the operator contract
# and mirrored verbatim in the SQL oracle)
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
}


def _occurrences(col: Column, token: str) -> Column:
    """Literal substring occurrence count via length arithmetic — no regex
    pass (the token contains regex metacharacters anyway)."""
    return (
        (F.length(col) - F.length(F.replace(col, F.lit(token), F.lit(""))))
        / F.lit(len(token))
    ).cast("int")


def _check_placeholder_safe(name: str, pat: str, token: str) -> None:
    """Raise if `pat` can match any part of `token` (alone or between word
    and digit neighbours).  The check runs Python's `re`; a pattern only
    the JVM dialect accepts is left to the caller."""
    try:
        rx = re.compile(pat)
    except re.error:
        return
    for probe in (token, f" {token} ", f"a{token}a", f"0{token}0"):
        start = probe.index(token)
        for m in rx.finditer(probe):
            if m.start() < start + len(token) and m.end() > start:
                raise ValueError(
                    f"PII pattern {name!r} matches its own placeholder {token}; "
                    "the staged hit count would be wrong"
                )


def pii_counts(text: Column, patterns: dict[str, str] | None = None) -> dict[str, Column]:
    """Per-type hit count, STAGED: each pattern counts against the text
    with all PRIOR patterns already redacted, so the counts are exactly
    the replacements the sequential redaction performs — an overlapping
    cross-type span (an ip inside an email, say) is attributed to the
    first pattern that consumes it, never double-counted.  Same
    non-overlapping leftmost semantics in Spark and DuckDB.

    Counted as the placeholder-occurrence DELTA across each redaction
    stage rather than a separate regexp_extract_all pass: the regex
    engine runs once per pattern (the replace chain, shared across all
    count columns by codegen subexpression elimination) instead of twice
    (extract + replace), and the delta is exact for arbitrary input —
    pre-existing literal ``[EMAIL]`` text survives every stage untouched
    (no default pattern can match '[' or ']') and each replacement
    inserts exactly one non-self-overlapping token.  Precondition, checked
    here: no pattern matches inside or across its own bracket placeholder
    (true for anything in the default charsets); a pattern that does would
    rewrite a placeholder already in the text and skew the delta silently,
    so it raises ValueError instead."""
    pats = patterns or PII_PATTERNS
    out: dict[str, Column] = {}
    staged = text
    for name, pat in pats.items():
        token = f"[{name.upper()}]"
        _check_placeholder_safe(name, pat, token)
        before = _occurrences(staged, token)
        staged = F.regexp_replace(staged, pat, token)
        out[name] = _occurrences(staged, token) - before
    return out


def _total(counts: dict[str, Column]) -> Column:
    total = None
    for c in counts.values():
        total = c if total is None else total + c
    if total is None:
        raise ValueError("patterns mapping is empty")
    return total


def pii_redact_text(text: Column, patterns: dict[str, str] | None = None) -> Column:
    """Replace every match with its typed placeholder, applying patterns in
    dict order (order matters when pattern languages overlap — pinned here
    and mirrored in the oracle)."""
    pats = patterns or PII_PATTERNS
    out = text
    for name, pat in pats.items():
        out = F.regexp_replace(out, pat, f"[{name.upper()}]")
    return out


def pii_scan(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    patterns: dict[str, str] | None = None,
) -> DataFrame:
    """Per-document hit counts per PII type plus the total.  The total
    equals the number of replacements `pii_redact` performs (staged
    counting — see pii_counts)."""
    pats = patterns or PII_PATTERNS
    counts = pii_counts(F.col(text_col), pats)
    return df.select(
        F.col(id_col),
        *[c.alias(f"n_{name}") for name, c in counts.items()],
        _total(counts).alias("n_pii"),
    )


def pii_redact(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    patterns: dict[str, str] | None = None,
) -> DataFrame:
    """(id, redacted text, n_redactions) — the write-side of the pass.
    n_redactions is the exact number of placeholder substitutions in
    `redacted` (staged counting)."""
    pats = patterns or PII_PATTERNS
    counts = pii_counts(F.col(text_col), pats)
    return df.select(
        F.col(id_col),
        pii_redact_text(F.col(text_col), pats).alias("redacted"),
        _total(counts).alias("n_redactions"),
    )
