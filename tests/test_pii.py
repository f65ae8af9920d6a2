"""PII detection/redaction (pii.py) — counts, redaction bytes, summary,
nulls, and the shuffle-free plan property."""

from __future__ import annotations

import random
import re

from pyspark.sql import functions as F

from pysparkdedup.pii import (
    PII_GATES, PII_PATTERNS, pii_summary, redact_pii, with_pii_counts)

ROWS = [
    (1, "write me at jane.doe+spam@example.co.uk today"),
    (2, "server 10.0.0.1 and gateway 192.168.1.254 up"),
    (3, "call +44 20 7946-0958 or +1 555 0100123 now"),
    (4, "card 4111 1111-1111 1111 on file"),
    (5, "a@b.io from 8.8.8.8 dial +33 1 23 45 67 89"),
    (6, "no pii here, just v1.2.3 and the number 12345"),
    (7, None),
]


def _df(spark):
    return spark.createDataFrame(ROWS, "id long, text string")


def test_counts_per_kind(spark):
    rows = {r["id"]: r for r in with_pii_counts(_df(spark)).collect()}
    assert (rows[1]["n_email"], rows[1]["n_pii"]) == (1, 1)
    assert (rows[2]["n_ipv4"], rows[2]["n_pii"]) == (2, 2)
    assert (rows[3]["n_phone"], rows[3]["n_pii"]) == (2, 2)
    assert (rows[4]["n_card"], rows[4]["n_pii"]) == (1, 1)
    assert rows[5]["n_pii"] == 3  # one of each of email/ipv4/phone
    assert rows[6]["n_pii"] == 0  # semver + short number are not PII
    assert rows[7]["n_pii"] == 0  # null text counts as empty


def test_redaction_bytes(spark):
    red = {r["id"]: r["text_redacted"]
           for r in redact_pii(_df(spark)).collect()}
    assert red[1] == "write me at <EMAIL> today"
    assert red[2] == "server <IPV4> and gateway <IPV4> up"
    assert red[3] == "call <PHONE> or <PHONE> now"
    assert red[4] == "card <CARD> on file"
    assert red[5] == "<EMAIL> from <IPV4> dial <PHONE>"
    assert red[6] == ROWS[5][1]  # untouched
    assert red[7] == ""


def test_redaction_subset_kinds(spark):
    red = {r["id"]: r["text_redacted"]
           for r in redact_pii(_df(spark), kinds=("email",)).collect()}
    assert red[1] == "write me at <EMAIL> today"
    assert red[3] == ROWS[2][1]  # phones untouched when only email scrubbed


def test_summary_row(spark):
    row = pii_summary(_df(spark)).collect()[0]
    assert row["n_docs"] == 7
    assert row["docs_with_pii"] == 5
    assert (row["total_email"], row["total_ipv4"],
            row["total_phone"], row["total_card"]) == (2, 3, 3, 1)


def test_counts_equal_placeholders_on_overlapping_matches(spark):
    """Counts must equal the placeholders redaction emits even where the
    raw patterns overlap: ipv4 inside an email, phone/card on one 16-digit
    run (the progressive-counting contract in pii.PII_PATTERNS)."""
    df = spark.createDataFrame(
        [(1, "mail admin@10.1.2.3.com now"),
         (2, "pay +1 2345 6789 0123 4567 ok")],
        "id long, text string")
    out = {r["id"]: r for r in redact_pii(with_pii_counts(df)).collect()}
    for rid in (1, 2):
        emitted = sum(out[rid]["text_redacted"].count(f"<{k.upper()}>")
                      for k in PII_PATTERNS)
        assert out[rid]["n_pii"] == emitted, out[rid]
    # the email swallows the dotted host: no stray <IPV4> count
    assert (out[1]["n_email"], out[1]["n_ipv4"]) == (1, 0)


def test_counts_and_redaction_are_shuffle_free(spark):
    """Per-doc PII work must never shuffle the corpus: the plan is
    scan -> project, zero Exchange nodes."""
    df = redact_pii(with_pii_counts(_df(spark)))
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    assert "Exchange" not in plan


def test_patterns_have_no_lookaround():
    """The oracle replays these in RE2 (DuckDB), which has no lookaround or
    backreferences — keep the patterns inside the shared subset."""
    for pat in PII_PATTERNS.values():
        assert "(?=" not in pat and "(?<" not in pat and "\\1" not in pat


def ungated_counts_and_redaction(df, text_col="text"):
    """The reference form: every pattern's regexes run on every row, no
    PII_GATES test (the progressive counting of with_pii_counts and the
    nested replacement of redact_pii, spelled as plain regexp chains)."""
    cur = F.coalesce(F.col(text_col), F.lit(""))
    cols = []
    for kind, pattern in PII_PATTERNS.items():
        cols.append(F.regexp_count(cur, F.lit(pattern)).alias(f"n_{kind}"))
        cur = F.regexp_replace(cur, pattern, f"<{kind.upper()}>")
    return df.select("id", *cols, cur.alias("text_redacted"))


PII_PIECES = [
    "jane.doe+x@example.co.uk", "a@b.io", "x@10.1.2.3.com", "no-at.example",
    "10.0.0.1", "192.168.1.254", "8.8.8.8", "10 0 0 1", "1.2.3", "v1.2.3.4.5",
    "+44 20 7946-0958", "+1 555 0100123", "44 20 7946-0958", "+1-2 (34) 5",
    "4111 1111-1111 1111", "4111111111111111", "+1 2345 6789 0123 4567",
    "@", ".", "+", "-", " ", "\n", "12", "abc", "Zürich", "(0)",
]


def random_pii_piece(rng):
    """A random match (or near miss) of one pattern: random digits and
    letters, so a gate on any other character than its literal misses
    some match."""
    def digits(lo, hi):
        return "".join(rng.choices("0123456789", k=rng.randint(lo, hi)))

    def word(k):
        return "".join(rng.choices("abcxyzQ._%-", k=k))

    return rng.choice([
        f"{word(4)}@{word(3)}.{rng.choice(['io', 'org', 'x'])}",
        ".".join(digits(1, 4) for _ in range(4)),
        f"+{digits(1, 3)}{rng.choice(' -')}{digits(1, 1)}{digits(5, 12)}",
        rng.choice(" -").join(digits(4, 4) for _ in range(4)),
    ])


def random_pii_texts(n, seed=7):
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        parts = rng.choices(PII_PIECES, k=rng.randint(0, 8))
        parts += [random_pii_piece(rng) for _ in range(rng.randint(0, 3))]
        rng.shuffle(parts)
        if rng.random() < 0.3:
            parts.append("".join(rng.choices("@.+- 0123456789ab", k=12)))
        sep = rng.choice([" ", "", ",", "\t"])
        out.append(sep.join(parts))
    return out


def test_pii_gates_change_no_output(spark):
    """Every PII_GATES literal is necessary for its pattern: on strings
    with and without each literal, the gated counts and redactions equal
    the ungated reference, for all kinds together and each kind alone."""
    assert set(PII_GATES) == set(PII_PATTERNS)
    texts = random_pii_texts(3000) + [None]
    df = spark.createDataFrame(list(enumerate(texts)), "id long, text string")
    ref = {r["id"]: r for r in ungated_counts_and_redaction(df).collect()}
    counted = {r["id"]: r for r in redact_pii(with_pii_counts(df)).collect()}
    for i, r in counted.items():
        want = ref[i]
        assert r["text_redacted"] == want["text_redacted"], texts[i]
        for kind in PII_PATTERNS:
            assert r[f"n_{kind}"] == want[f"n_{kind}"], (kind, texts[i])
        assert r["n_pii"] == sum(want[f"n_{k}"] for k in PII_PATTERNS)
    for kind, pattern in PII_PATTERNS.items():
        gate = PII_GATES[kind]
        alone = redact_pii(df, kinds=(kind,)).select(
            "text_redacted",
            F.regexp_replace(F.coalesce("text", F.lit("")), pattern,
                             f"<{kind.upper()}>").alias("ungated"))
        assert alone.filter(
            F.col("text_redacted") != F.col("ungated")).count() == 0, kind
        if gate is None:
            continue
        # both sides of the gate are exercised, and the kind does match
        assert any(t and gate not in t for t in texts), kind
        assert any(t and gate in t and re.search(pattern, t, re.ASCII)
                   for t in texts), kind
        assert sum(want[f"n_{kind}"] for want in ref.values()) > 0, kind

