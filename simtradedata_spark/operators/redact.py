"""PII redaction — the scrubbing pass every LLM training-data pipeline runs
before tokenization (emails / phone numbers / national-ID numbers / IPs →
typed mask tokens).

Pure ``regexp_replace``/``regexp_count`` Column expressions: JVM-side,
whole-stage-codegen, single scan, zero shuffle — the redaction cost at
100 TB is exactly the scan cost. Patterns stay inside the regex subset that
Java (Spark) and RE2 (DuckDB) evaluate identically, so the oracle can
recompute the redaction byte-for-byte; the DuckDB mirror needs the ``'g'``
flag (DuckDB replaces first-match by default, Spark replaces all).

No reference counterpart (the reference is market-data-only); this is part
of the beyond-reference LLM-pipeline surface alongside dedup/decontam.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# (kind, pattern, mask) — applied in order. The 18-digit national-ID rule
# precedes the 11-digit phone rule so an ID's digit run is consumed whole;
# \b keeps either from firing inside longer digit runs.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("idnum", r"\b[0-9]{17}[0-9Xx]\b", "<IDNUM>"),
    ("phone", r"\b1[3-9][0-9]{9}\b", "<PHONE>"),
    ("ip", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
]


def redact_text(col: Column | str) -> Column:
    """Text with every PII match replaced by its typed mask."""
    c = F.col(col) if isinstance(col, str) else col
    for _, pat, mask in PII_PATTERNS:
        c = F.regexp_replace(c, pat, mask)
    return c


def pii_counts(col: Column | str) -> list[Column]:
    """One ``n_<kind>`` count column per pattern (pre-redaction counts)."""
    c = F.col(col) if isinstance(col, str) else col
    return [
        F.regexp_count(c, F.lit(pat)).alias(f"n_{kind}")
        for kind, pat, _ in PII_PATTERNS
    ]

