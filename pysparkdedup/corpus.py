"""Deterministic synthetic web-page corpus with planted duplicate structure.

The Spark analog of the reference's ``MailFactory`` fixture factory
(ref tests/conftest.py:95-166): every row is a pure function of
``(seed, row_id, total_rows)``, so generation is fully distributed
(``spark.range(n)`` + ``mapInPandas``), reproducible at any partitioning, and
scales to arbitrary n without driver-side materialization.

Planted group kinds (FIXTURES.md table 1) and their reference analogs:

- boilerplate : 1 text duplicated across ~1% of the corpus — the skew case
                (ref tests/test_performance.py:316-341)
- exact       : identical text, distinct urls, timestamps minutes apart
                (ref tests/test_strategy.py:52-56,79-102)
- whitespace  : same text modulo trailing spaces — equal under \\s-removal,
                unequal raw (ref mail.py:431-439, tests/test_mail.py:78-93)
- time_ladder : identical text, ts now/-1m/-2m/-3m
- near_j*     : token-level edits at controlled replacement rates — MinHash
                recall targets
- outlier     : copies + one whitespace-bloated member breaching the size
                threshold — must be evicted, core still deduplicated
                (ref deduplicate.py:304-359, tests/test_strategy.py:541-564)
- dissimilar  : 2 rows, same normalized hash, size spread >> threshold —
                whole group skipped (ref tests/test_strategy.py:567-578)
- undated     : identical copies with NULL warc_ts — time strategies fall
                through the cascade (ref tests/test_strategy.py:420-435)
- same_ts     : identical copies sharing one timestamp — time strategy
                selects all => ineffective => fallback
                (ref tests/test_strategy.py:455-478)
- substring   : short doc fully contained in a longer one — containment
                dedup target (suffix.containment_edges)
- malformed   : empty text — rejected with metric (ref mail.py:490-496)
- unique      : everything else (singleton fast path, ref deduplicate.py:419-424)

Ground truth ``true_cluster`` is the planted group id (the generator planted
the duplicates, so it knows — FIXTURES.md table 2).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

BASE_EPOCH = 1704067200  # 2024-01-01T00:00:00Z

# (kind, fraction of corpus, group size) — order defines id-space layout.
SEGMENTS: list[tuple[str, float, int]] = [
    ("boilerplate", 0.010, 10**9),  # one giant group
    ("exact", 0.100, 4),
    ("whitespace", 0.060, 3),
    ("time_ladder", 0.040, 4),
    ("near_j095", 0.020, 2),
    ("near_j09", 0.020, 2),
    ("near_j08", 0.020, 2),
    ("near_j05", 0.020, 2),
    ("outlier", 0.030, 4),
    ("dissimilar", 0.010, 2),
    ("undated", 0.020, 3),
    ("same_ts", 0.020, 3),
    ("substring", 0.020, 2),
    ("malformed", 0.005, 1),
    # remainder: unique
]

LANGS = ["en", "en", "en", "en", "en", "fr", "es", "de", "zh"]  # skewed to en
LANG_MARKERS = {
    "en": "the and of to in is was for that with",
    "fr": "le la et les des une dans pour est que",
    "es": "el la los las una para es con del por",
    "de": "der die das und ein ist von mit den des",
    "zh": "de shi zai le he you wei yu bu ta",
}

# Token-replacement rate per near-dup kind (drives realized shingle Jaccard).
NEAR_EDIT_RATE = {"near_j095": 0.01, "near_j09": 0.02, "near_j08": 0.05, "near_j05": 0.20}

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
    T.StructField("true_cluster", T.LongType(), False),
    T.StructField("dup_kind", T.StringType(), False),
])


def _segment_bounds(n: int) -> list[tuple[str, int, int, int]]:
    """[(kind, start_id, end_id, group_size)] covering [0, n); tail = unique."""
    bounds = []
    cursor = 0
    for kind, frac, gsize in SEGMENTS:
        width = int(n * frac)
        if width <= 0:
            continue
        bounds.append((kind, cursor, cursor + width, min(gsize, width)))
        cursor += width
    if cursor < n:
        bounds.append(("unique", cursor, n, 1))
    return bounds


def _words(rng: np.random.Generator, count: int, lang: str) -> list[str]:
    """Deterministic pseudo-text: lang marker words + seeded vocab words."""
    markers = LANG_MARKERS[lang].split()
    vocab_ids = rng.integers(0, 20000, size=count)
    out = []
    for i, vid in enumerate(vocab_ids):
        if i % 7 == 3:
            out.append(markers[int(vid) % len(markers)])
        else:
            out.append(f"w{int(vid):05d}")
    return out


def _base_text(seed: int, seg_idx: int, group_idx: int, lang: str,
               n_words: tuple[int, int] = (60, 240)) -> list[str]:
    rng = np.random.default_rng([seed, seg_idx, group_idx])
    count = int(rng.integers(n_words[0], n_words[1]))
    return _words(rng, count, lang)


def _render(words: list[str], per_line: int = 12) -> str:
    lines = ["title"]
    for i in range(0, len(words), per_line):
        lines.append(" ".join(words[i : i + per_line]))
    return "\n".join(lines)


def _row_for_id(rid: int, n: int, seed: int,
                bounds: list[tuple[str, int, int, int]]) -> tuple:
    """(url, warc_ts_epoch_or_None, text, lang, true_cluster, dup_kind)."""
    # locate segment
    seg_idx = 0
    for i, (kind, start, end, gsize) in enumerate(bounds):
        if start <= rid < end:
            seg_idx = i
            break
    kind, start, end, gsize = bounds[seg_idx]
    local = rid - start
    group_idx = local // gsize
    member = local % gsize
    cluster = seg_idx * 10**12 + group_idx
    lang = LANGS[(seg_idx * 31 + group_idx) % len(LANGS)]
    ts: float | None = float(BASE_EPOCH + (rid // 16) * 3600 + member * 60)

    if kind == "malformed":
        text = "" if member % 2 == 0 else " "
    elif kind == "boilerplate":
        rng = np.random.default_rng([seed, 999])
        text = _render(_words(rng, 80, "en"))
    else:
        base = _base_text(seed, seg_idx, group_idx, lang)
        if kind in ("exact", "time_ladder", "undated", "same_ts", "unique"):
            text = _render(base)
            if kind == "undated":
                ts = None
            elif kind == "same_ts":
                ts = float(BASE_EPOCH + group_idx * 3600)
        elif kind == "whitespace":
            # trailing spaces on the short first line: equal normalized hash,
            # raw sizes differ by 8*member, content diff small.
            text = _render(base)
            if member > 0:
                lines = text.split("\n")
                lines[0] = lines[0] + " " * (8 * member)
                text = "\n".join(lines)
        elif kind in NEAR_EDIT_RATE:
            words = list(base)
            if member > 0:
                rate = NEAR_EDIT_RATE[kind]
                rng = np.random.default_rng([seed, seg_idx, group_idx, member])
                k = max(1, int(len(words) * rate))
                pos = rng.choice(len(words), size=k, replace=False)
                for p in pos:
                    words[int(p)] = f"x{int(rng.integers(0, 99999)):05d}"
            text = _render(words)
        elif kind == "outlier":
            text = _render(base)
            if member == gsize - 1:  # whitespace-bloated outlier
                lines = text.split("\n")
                lines[0] = lines[0] + " " * 2000
                text = "\n".join(lines)
        elif kind == "dissimilar":
            text = _render(base)
            if member == 1:
                lines = text.split("\n")
                lines[0] = lines[0] + " " * 3000
                text = "\n".join(lines)
        elif kind == "substring":
            long_words = _base_text(seed, seg_idx, group_idx, lang, (120, 240))
            if member == 0:
                text = _render(long_words)
            else:  # contiguous inner slice => contained substring lines
                q = len(long_words) // 4
                # align slice to render line boundary (12 words/line)
                q = (q // 12) * 12
                inner = long_words[q : q + max(24, len(long_words) // 2)]
                text = "\n".join(_render(inner).split("\n")[1:])  # drop "title"
        else:  # pragma: no cover
            text = _render(base)

    url = f"https://site{(cluster * 7) % 97}.example/{kind}/{group_idx}/{member}"
    return url, ts, text, lang, cluster, kind


def generate_pages(spark: SparkSession, n: int, seed: int = 42,
                   partitions: int | None = None) -> DataFrame:
    """Distributed deterministic corpus: pages + ground-truth columns.

    Pure function of row id — the same (n, seed) yields byte-identical rows at
    any partitioning/parallelism, which is what the parallelism-equivalence
    tests (ref tests/test_cli.py:127-160) rely on.
    """
    bounds = _segment_bounds(n)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [_row_for_id(int(rid), n, seed, bounds) for rid in pdf["id"]]
            out = pd.DataFrame(
                rows, columns=["url", "ts", "text", "lang", "true_cluster", "dup_kind"]
            )
            out["warc_ts"] = pd.to_datetime(out.pop("ts"), unit="s", utc=True
                                            ).dt.tz_localize(None)
            out["html"] = [
                b"<html><body>" + t.encode("utf-8") + b"</body></html>"
                for t in out["text"]
            ]
            yield out[["url", "warc_ts", "html", "text", "lang",
                       "true_cluster", "dup_kind"]]

    base = spark.range(0, n, numPartitions=partitions)
    return base.mapInPandas(gen, schema=PAGES_SCHEMA)


def pages_and_truth(spark: SparkSession, n: int, seed: int = 42,
                    partitions: int | None = None) -> tuple[DataFrame, DataFrame]:
    """(pages, truth) — pages in the input_hint schema, truth per FIXTURES.md §2."""
    full = generate_pages(spark, n, seed, partitions)
    pages = full.select("url", "warc_ts", "html", "text", "lang")
    truth = full.select("url", "true_cluster", "dup_kind")
    return pages, truth
