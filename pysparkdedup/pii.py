"""PII detection and redaction for training-data curation.

Web-scale corpus pipelines scrub personally identifiable information before
training (the public-literature pattern: CCNet/Dolma/RefinedWeb-style rule
pipelines run regex scrubbers for emails / IP addresses / phone numbers).
The reference's per-mailbox model has no analog — mail IS addressed PII —
but its normalization layer (ref mail.py:309-439, per-row derived columns)
is the structural template: PII signals are one more set of derived columns
over the same row.

Everything here is JVM-side ``regexp_count`` / ``regexp_replace`` column
algebra — no Python UDFs, fully inside whole-stage codegen. The email
and phone patterns are gated on a literal they cannot match without
(``PII_GATES``): a string that lacks it skips that regex. The patterns
deliberately use only the regex subset on which Java's engine (Spark) and
RE2 (DuckDB, the oracle) produce identical matches: character classes,
bounded repetition, non-capturing groups and ``\b`` — no lookaround, no
backreferences (RE2 has neither).

Scale notes (100 TB): per-document map-side work only — counting and
redaction add zero shuffles; ``pii_summary`` is a single partial-aggregated
1-row reduce. A mega-document costs only its own scan within its task.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
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


# The literal each pattern cannot match without. A string that lacks it
# skips that pattern's regex: its count is 0 and its replacement is the
# identity, so the gate changes no output. card has no such literal (its
# separator may be a space or a hyphen). ipv4 needs '.', but most prose
# holds one (80 % of the paragraphs measured in BENCH.md), where a '.'
# gate skips little and measured no faster, so ipv4 is left ungated. A
# gate costs one substring scan where its literal is present.
PII_GATES: dict[str, str | None] = {
    "email": "@",
    "ipv4": None,
    "phone": "+",
    "card": None,
}


def _gated(kind: str, cur: Column, found: Column, skipped: Column) -> Column:
    """``found`` where ``cur`` holds ``kind``'s gate literal, else
    ``skipped``."""
    gate = PII_GATES[kind]
    if gate is None:
        return found
    return F.when(cur.contains(gate), found).otherwise(skipped)


def _redacted(kind: str, cur: Column) -> Column:
    """``cur`` with ``kind``'s matches replaced by its placeholder."""
    return _gated(kind, cur, F.regexp_replace(
        cur, PII_PATTERNS[kind], f"<{kind.upper()}>"), cur)


def with_pii_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds one ``n_<kind>`` int column per pattern plus ``n_pii`` (total).

    Each kind is counted on the text with all PRIOR kinds already replaced
    by their placeholders — the same intermediate string redact_pii sees —
    so ``n_<kind>`` equals the ``<KIND>`` placeholders redaction emits and
    ``n_pii`` equals total placeholders (see PII_PATTERNS ordering note).
    A gated kind's regexes run only on strings that hold its
    ``PII_GATES`` literal. Still pure JVM regexp column algebra, zero
    shuffles.
    """
    cur = F.col("_pii_cur")
    df = df.withColumn("_pii_cur", F.coalesce(F.col(text_col), F.lit("")))
    for kind, pattern in PII_PATTERNS.items():
        # One projection per kind: the next kind reads _pii_cur as a
        # column, so the gate does not copy this kind's regex into it.
        df = df.withColumn(
            f"n_{kind}",
            _gated(kind, cur, F.regexp_count(cur, F.lit(pattern)), F.lit(0)),
        ).withColumn("_pii_cur", _redacted(kind, cur))
    total = None
    for kind in PII_PATTERNS:
        c = F.col(f"n_{kind}")
        total = c if total is None else total + c
    return df.withColumn("n_pii", total).drop("_pii_cur")


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "text_redacted",
    kinds: tuple[str, ...] | None = None,
) -> DataFrame:
    """Adds ``out_col``: the text with each PII match replaced by a typed
    placeholder (``<EMAIL>``, ``<IPV4>``, ...). Patterns apply in
    PII_PATTERNS order; pass ``kinds`` to scrub a subset. A gated kind's
    regex runs only on strings that hold its ``PII_GATES`` literal; one
    projection per kind, so the optimized plan names each regex once.
    """
    df = df.withColumn(out_col, F.coalesce(F.col(text_col), F.lit("")))
    cur = F.col(out_col)
    for kind in kinds if kinds is not None else tuple(PII_PATTERNS):
        df = df.withColumn(out_col, _redacted(kind, cur))
    return df


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
