"""Substring containment dedup: a distributed anchor join.

``containment_edges`` generates candidates globally: if doc A is a
substring of doc B, every word k-shingle of A appears in B; in particular
A's *minimum-hash* shingle does. So A emits one anchor row (its min
shingle) and B emits all its distinct shingles; the equi-join yields every
(A in B) candidate, verified exactly per pair. Linear in total shingles,
one shuffle. Skew guard: shingles occurring in more than ``max_df`` docs
are dropped from the container side (df-cut; affects only docs whose min
shingle is boilerplate-common).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .config import DedupConfig
from .minhash import _batch_shingles

DEFAULT_MAX_DF = 10000


_ANCHOR_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("anchor", T.LongType(), True),
    T.StructField("shingles", T.ArrayType(T.LongType()), True),
])


def _shingle_frame(df: DataFrame, cfg: DedupConfig,
                   text_col: str = "text") -> DataFrame:
    k = cfg.shingle_size

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sh, offsets, counts = _batch_shingles(pdf[text_col].tolist(), k)
            nz_ends = np.cumsum(counts[counts > 0])
            anchors, shingles = [], []
            nz_i = 0
            for i in range(len(counts)):
                if counts[i] == 0:
                    anchors.append(None)
                    shingles.append(None)
                    continue
                seg = sh[offsets[nz_i] : nz_ends[nz_i]]
                nz_i += 1
                seg = np.unique(seg)
                anchors.append(int(seg.min()))
                shingles.append(seg.astype(np.int64).tolist())
            yield pd.DataFrame({
                "url": pdf["url"], "anchor": pd.array(anchors, dtype="Int64"),
                "shingles": shingles,
            })

    return df.select("url", text_col).mapInPandas(compute, schema=_ANCHOR_SCHEMA)


def containment_edges(df: DataFrame, cfg: DedupConfig, text_col: str = "text",
                      max_df: int = DEFAULT_MAX_DF,
                      verify: str = "raw") -> DataFrame:
    """(inner, outer): verified 'inner's text occurs inside outer's text'.

    One explode + one equi-join + one verify join; hot shingle keys df-cut at
    ``max_df``. Two verify semantics:

    - ``verify='raw'``: byte substring containment (``contains(outer, inner)``).
      Candidates (inner's min-hash shingle among outer's shingles) are complete
      only for token-boundary-aligned occurrences — a raw occurrence starting
      mid-token (e.g. 'a value…' inside 'data value…') produces no shared
      shingle and is missed; the production default, matching the reference's
      byte-level notion of content identity.
    - ``verify='token'``: inner's token sequence is a contiguous subsequence of
      outer's tokens (whitespace/punctuation-insensitive). Candidates are
      PROVABLY complete here: contiguous token containment implies every inner
      k-shingle (hence the min one) is an outer shingle — this variant is
      exact-recall for docs with >= shingle_size tokens, and is what the
      driver's DuckDB oracle replays. ASCII tokenization ([0-9a-z_]+ on
      lowered text), matching the tokenhash kernel on ASCII corpora.
    """
    sh = _shingle_frame(df, cfg, text_col)
    anchors = sh.filter(F.col("anchor").isNotNull()).select("url", "anchor")
    exploded = (
        sh.filter(F.col("shingles").isNotNull())
        .select(F.col("url").alias("outer"), F.explode("shingles").alias("anchor"))
    )
    # df-cut: drop shingle keys present in too many docs (skew guard).
    freq = exploded.groupBy("anchor").agg(F.count(F.lit(1)).alias("n"))
    hot = freq.filter(F.col("n") > max_df).select("anchor")
    exploded = exploded.join(F.broadcast(hot), "anchor", "left_anti")

    cand = (
        anchors.withColumnRenamed("url", "inner")
        .join(exploded, "anchor")
        .filter(F.col("inner") != F.col("outer"))
        .select("inner", "outer")
        .dropDuplicates(["inner", "outer"])
    )
    if verify == "token":
        # ' tok tok … ' padded token string: containment on it == contiguous
        # token-subsequence containment.
        def tokstr(col):
            toks = F.filter(
                F.split(F.lower(F.coalesce(col, F.lit(""))), "[^0-9a-z_]+"),
                lambda t: t != "",
            )
            return F.concat(F.lit(" "), F.array_join(toks, " "), F.lit(" "))
        probe = tokstr(F.col(text_col))
    elif verify == "raw":
        probe = F.col(text_col)
    else:
        raise ValueError(f"unknown verify mode: {verify!r}")
    ti = df.select(F.col("url").alias("inner"), probe.alias("_t_in"))
    to = df.select(F.col("url").alias("outer"), probe.alias("_t_out"))
    verified = (
        cand.join(ti, "inner")
        .join(to, "outer")
        .filter(F.expr("contains(_t_out, _t_in)"))
        .select("inner", "outer")
    )
    return verified
