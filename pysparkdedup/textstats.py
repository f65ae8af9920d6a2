"""Text-analysis operators for training-data pipelines — all JVM-side column
algebra except winnowing (a numpy kernel over ``mapInArrow`` batches).

- token counts       : whitespace ``tokens_col`` + BPE-ish ``subword_count``
- language-ID        : n-gram/stopword-marker heuristic, argmax over langs
- quality scoring    : length / punctuation / stopword / digit ratios
- fingerprinting     : winnowing (rolling k-gram hashes, window minima)

These generalize the reference's per-row derivation layer (size, timestamps,
normalized forms — ref mail.py:309-439) to web-text curation signals.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "was", "for", "that", "with"],
    "fr": ["le", "la", "et", "les", "des", "une", "dans", "pour", "est", "que"],
    "es": ["el", "la", "los", "las", "una", "para", "es", "con", "del", "por"],
    "de": ["der", "die", "das", "und", "ein", "ist", "von", "mit", "den", "des"],
    "zh": ["de", "shi", "zai", "le", "he", "you", "wei", "yu", "bu", "ta"],
}


def tokens_col(text_col: str = "text") -> Column:
    return F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
        lambda t: t != "",
    )


def subword_count(text_col: str = "text") -> Column:
    """BPE-ish token estimate: word-piece + digit + punctuation runs."""
    pieces = F.filter(
        F.split(
            F.coalesce(F.col(text_col), F.lit("")),
            r"(?<=[\p{L}])(?=[\p{N}])|(?<=[\p{N}])(?=[\p{L}])|[^\p{L}\p{N}]+",
        ),
        lambda t: t != "",
    )
    # long words split every ~4 chars, the BPE-ish length heuristic.
    # BIGINT accumulator to match the oracle's column width exactly.
    return F.aggregate(
        pieces, F.lit(0).cast("long"),
        lambda acc, w: acc + F.greatest(
            F.ceil(F.length(w) / F.lit(4)).cast("long"), F.lit(1).cast("long")),
    )


def lang_scores(text_col: str = "text") -> Column:
    """map<lang, double>: fraction of tokens that are that language's markers."""
    toks = tokens_col(text_col)
    n = F.greatest(F.size(toks), F.lit(1))
    entries = [
        F.struct(
            F.lit(lang).alias("lang"),
            (F.size(F.array_intersect(
                toks, F.array(*[F.lit(w) for w in words])
            )) / n).alias("score"),
        )
        for lang, words in STOPWORDS.items()
    ]
    return F.array(*entries)


def detected_lang(text_col: str = "text") -> Column:
    """argmax language by marker score; 'und' when nothing matches."""
    scores = lang_scores(text_col)
    best = F.array_max(
        F.transform(scores, lambda s: F.struct(s["score"].alias("score"),
                                               s["lang"].alias("lang")))
    )
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def quality_columns(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append curation-signal columns: n_chars, n_tokens, mean_token_len,
    punct_ratio, digit_ratio, stopword_ratio, uniq_token_ratio, quality_score.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    toks = tokens_col(text_col)
    n_chars = F.length(text)
    n_tokens = F.size(toks)
    safe_chars = F.greatest(n_chars, F.lit(1)).cast("double")
    safe_tokens = F.greatest(n_tokens, F.lit(1)).cast("double")
    punct = F.length(F.regexp_replace(text, r"[\p{L}\p{N}\s]", ""))
    digits = F.length(F.regexp_replace(text, r"[^0-9]", ""))
    en_stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    stop_hits = F.size(F.filter(toks, lambda t: F.array_contains(en_stop, t)))
    uniq_ratio = F.size(F.array_distinct(toks)) / safe_tokens

    out = (
        df.withColumn("n_chars", n_chars)
        .withColumn("n_tokens", n_tokens)
        .withColumn("mean_token_len",
                    F.round((n_chars - n_tokens + 1) / safe_tokens, 4))
        .withColumn("punct_ratio", F.round(punct / safe_chars, 4))
        .withColumn("digit_ratio", F.round(digits / safe_chars, 4))
        .withColumn("stopword_ratio", F.round(stop_hits / safe_tokens, 4))
        .withColumn("uniq_token_ratio", F.round(uniq_ratio, 4))
    )
    score = (
        F.when(F.col("n_tokens") < 5, 0.0)
        .otherwise(
            F.greatest(
                F.lit(0.0),
                F.lit(1.0)
                - F.col("punct_ratio") * 2
                - F.col("digit_ratio")
                - F.greatest(F.lit(0.3) - F.col("uniq_token_ratio"), F.lit(0.0)),
            )
        )
    )
    return out.withColumn("quality_score", F.round(score, 4))


_WINNOW_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("fingerprints", T.ArrayType(T.LongType()), True),
])


def _winnow(batches, k: int, window: int, text_col: str):
    """mapInArrow kernel: (url, text) -> (url, winnowing fingerprints)."""
    base = np.uint64(1000003)
    for batch in batches:
        fps = []
        for text in batch.column(text_col).to_pylist():
            s = (text or "").lower()
            if len(s) < k:
                fps.append(None)
                continue
            codes = np.frombuffer(s.encode("utf-32-le"), dtype="<u4"
                                  ).astype(np.uint64)
            n = len(codes) - k + 1
            acc = np.zeros(n, dtype=np.uint64)
            for j in range(k):
                acc = acc * base + codes[j : j + n]
            if n >= window:
                m = np.lib.stride_tricks.sliding_window_view(acc, window)
                mins = m.min(axis=1)
            else:
                mins = np.array([acc.min()], dtype=np.uint64)
            fps.append(np.unique(mins).astype(np.int64))
        yield pa.RecordBatch.from_arrays(
            [batch.column("url"), pa.array(fps, pa.list_(pa.int64()))],
            names=["url", "fingerprints"])


def winnowing_fingerprints(df: DataFrame, k: int = 8, window: int = 4,
                           text_col: str = "text") -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03 — public
    algorithm): rolling char k-gram hashes, keep the minimum of each sliding
    window, dedup. Vectorized numpy per document inside mapInArrow."""
    return df.select("url", text_col).mapInArrow(
        partial(_winnow, k=k, window=window, text_col=text_col),
        schema=_WINNOW_SCHEMA)


def vocab_topk(
    df: DataFrame,
    k: int = 1000,
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """Corpus token vocabulary: the k most frequent whitespace tokens
    (lowercased, the ``tokens_col`` tokenizer) with their total counts and
    frequency rank. The BPE-training / stopword-derivation precursor.

    Rank is fully deterministic: (count DESC, token ASC) — ties break
    lexicographically, so the result is stable across partitioning.

    Scale notes (100 TB): the token count is a single partial-aggregated
    groupBy (O(1) state per token, map-side combine absorbs Zipf-head
    tokens); the top-k is ``orderBy(...).limit(k)``, which Spark executes
    as TakeOrderedAndProject — each task keeps a k-sized heap, only
    k-per-partition rows reach the driver-side merge, no global sort. The
    rank window is unpartitioned BY CONSTRUCTION on the post-limit frame:
    it sorts k rows, never data-scale input (the WindowExec single-
    partition warning refers to a k-row frame here).
    """
    counts = (
        df.select(F.explode(tokens_col(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
    )
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    return (
        counts.orderBy(F.col("n").desc(), F.col("token").asc()).limit(k)
        .withColumn("rank", F.row_number().over(w))
    )


# The paper's required-stopword set (Rae et al. 2021, appendix A1.1).
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
    stopwords: list[str] | None = None,
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, appendix A1.1
    — public literature), one boolean per rule plus the conjunction:

    - ``ok_token_count``   : token count within [min_tokens, max_tokens];
    - ``ok_mean_word_len`` : mean characters per word within [3, 10];
    - ``ok_symbol_ratio``  : ('#' + ellipsis) per word <= 0.1;
    - ``ok_bullets``       : <= 90% of lines start with a bullet;
    - ``ok_ellipsis``      : <= 30% of lines end with an ellipsis;
    - ``ok_alpha_words``   : >= 80% of words contain a letter;
    - ``ok_stopwords``     : >= 2 distinct required stopwords present
      (the paper's English set by default; pass ``stopwords`` for other
      languages/corpora);
    - ``gopher_pass``      : all of the above.

    Thresholds compare UNROUNDED values (the reported mean_word_len is
    rounded for display only), so rule booleans replay exactly in SQL.
    Pure per-document JVM column algebra — shuffle-free like
    repetition_stats; token/line arrays are materialized once (lambdas
    re-evaluate captured expressions per element otherwise).
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    staged = (df.withColumn("_gq_toks", tokens_col(text_col))
              .withColumn("_gq_lines", F.split(text, "\n")))
    toks, lines = F.col("_gq_toks"), F.col("_gq_lines")
    n = F.size(toks)
    safe_n = F.greatest(n, F.lit(1)).cast("double")
    sum_len = F.aggregate(
        toks, F.lit(0).cast("long"),
        lambda acc, t: acc + F.length(t).cast("long"))
    mean_len = sum_len / safe_n
    symbols = (F.regexp_count(text, F.lit("#"))
               + F.regexp_count(text, F.lit(r"\.\.\."))
               + F.regexp_count(text, F.lit("…")))
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("double")
    bullet_frac = F.size(F.filter(
        lines, lambda l: l.rlike(r"^\s*[-*•‣]"))) / n_lines
    ellipsis_frac = F.size(F.filter(
        lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$"))) / n_lines
    alpha_frac = F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))) / safe_n
    stop_hits = F.size(F.array_intersect(
        F.array_distinct(toks),
        F.array(*[F.lit(w) for w in
                  (stopwords if stopwords is not None
                   else GOPHER_STOPWORDS)])))

    rules = {
        "ok_token_count": (n >= min_tokens) & (n <= max_tokens),
        "ok_mean_word_len": (mean_len >= min_mean_word_len)
                            & (mean_len <= max_mean_word_len),
        "ok_symbol_ratio": (symbols / safe_n) <= max_symbol_ratio,
        "ok_bullets": bullet_frac <= max_bullet_frac,
        "ok_ellipsis": ellipsis_frac <= max_ellipsis_frac,
        "ok_alpha_words": alpha_frac >= min_alpha_word_frac,
        "ok_stopwords": stop_hits >= min_stopword_hits,
    }
    gopher_pass = None
    for c in rules.values():
        gopher_pass = c if gopher_pass is None else gopher_pass & c
    return staged.select(
        F.col(id_col),
        n.alias("n_tokens"),
        F.round(mean_len, 4).alias("mean_word_len"),
        *[c.alias(name) for name, c in rules.items()],
        gopher_pass.alias("gopher_pass"),
    )
