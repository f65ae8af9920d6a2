"""PII detection and redaction for training-data curation.

Web-scale corpus pipelines scrub personally identifiable information before
training (the public-literature pattern: CCNet/Dolma/RefinedWeb-style rule
pipelines run regex scrubbers for emails / IP addresses / phone numbers).
The reference's per-mailbox model has no analog — mail IS addressed PII —
but its normalization layer (ref mail.py:309-439, per-row derived columns)
is the structural template: PII signals are one more set of derived columns
over the same row.

Everything here is JVM-side ``regexp_count`` / ``regexp_replace`` column
algebra — no Python UDFs, fully inside whole-stage codegen. The patterns
deliberately use only the regex subset on which Java's engine (Spark) and
RE2 (DuckDB, the oracle) produce identical matches: character classes,
bounded repetition, non-capturing groups and ``\b`` — no lookaround, no
backreferences (RE2 has neither).

Scale notes (100 TB): per-document map-side work only — counting and
redaction add zero shuffles; ``pii_summary`` is a single partial-aggregated
1-row reduce. A mega-document costs only its own scan within its task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Ordered: redaction applies patterns in THIS order (an oracle replaying the
# redaction must nest its regexp_replace calls identically). Patterns CAN
# overlap on pathological inputs (ipv4 matches inside 'admin@10.1.2.3.com',
# phone and card both match a '+1 ...' 16-digit run), so counting each kind
# on the RAW text would over-count relative to what redact_pii emits.
# with_pii_counts therefore counts kind k on the text with kinds BEFORE k
# already replaced — exactly the intermediate string redact_pii sees when it
# applies pattern k — so n_<kind> equals the number of <KIND> placeholders
# emitted and n_pii equals total placeholders. (Placeholders contain no
# digits or '@', so they can never create new matches.)
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}(?:\.\d{1,3}){3}\b",
    "phone": r"\+\d{1,3}[ -]\d(?:[\d ()-]{5,12}\d)",
    "card": r"\b\d{4}(?:[ -]\d{4}){3}\b",
}


def with_pii_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds one ``n_<kind>`` int column per pattern plus ``n_pii`` (total).

    Each kind is counted on the text with all PRIOR kinds already replaced
    by their placeholders — the same intermediate string redact_pii sees —
    so ``n_<kind>`` equals the ``<KIND>`` placeholders redaction emits and
    ``n_pii`` equals total placeholders (see PII_PATTERNS ordering note).
    Still pure JVM regexp column algebra, zero shuffles.
    """
    cur = F.coalesce(F.col(text_col), F.lit(""))
    for kind in PII_PATTERNS:
        df = df.withColumn(
            f"n_{kind}", F.regexp_count(cur, F.lit(PII_PATTERNS[kind])))
        cur = F.regexp_replace(cur, PII_PATTERNS[kind], f"<{kind.upper()}>")
    total = None
    for kind in PII_PATTERNS:
        c = F.col(f"n_{kind}")
        total = c if total is None else total + c
    return df.withColumn("n_pii", total)


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "text_redacted",
    kinds: tuple[str, ...] | None = None,
) -> DataFrame:
    """Adds ``out_col``: the text with each PII match replaced by a typed
    placeholder (``<EMAIL>``, ``<IPV4>``, ...). Patterns apply in
    PII_PATTERNS order; pass ``kinds`` to scrub a subset.
    """
    col = F.coalesce(F.col(text_col), F.lit(""))
    for kind in kinds if kinds is not None else tuple(PII_PATTERNS):
        col = F.regexp_replace(
            col, PII_PATTERNS[kind], f"<{kind.upper()}>")
    return df.withColumn(out_col, col)


def pii_summary(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-row corpus audit: document count, documents containing any PII,
    and total matches per kind. Partial aggregation keeps this a cheap
    map-side-combined reduce at any corpus size."""
    counted = with_pii_counts(df, text_col)
    aggs = [F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_pii") > 0).cast("long")).alias("docs_with_pii")]
    for kind in PII_PATTERNS:
        aggs.append(F.sum(f"n_{kind}").cast("long").alias(f"total_{kind}"))
    return counted.agg(*aggs)
