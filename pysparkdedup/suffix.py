"""Substring containment dedup: a distributed anchor join.

``containment_edges`` generates candidates globally: if doc A is a
substring of doc B, every word k-shingle of A appears in B; in particular
A's *minimum-hash* shingle does. So A emits one anchor row (its min
shingle) and B emits all its distinct shingles, both computed by one
family of the token kernel (tokenhash.py); the equi-join yields every
(A in B) candidate, verified exactly per pair. Linear in total shingles,
one shuffle. Skew guard: shingles occurring in more than ``max_df`` docs
are dropped from the container side (df-cut; affects only docs whose min
shingle is boilerplate-common).
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .config import DedupConfig
from .minhash import _shingles
from .tokenhash import Family, list_array, token_signatures

DEFAULT_MAX_DF = 10000


def _anchor_arrays(doc_lens: np.ndarray, tok_hashes: np.ndarray,
                   k: int) -> list:
    """The containment family: each doc's distinct shingles, sorted, and
    their minimum (the anchor) — both null for a doc with no shingle. One
    lexsort over (doc, shingle) orders the whole batch."""
    sh, counts = _shingles(doc_lens, tok_hashes, k)
    doc = np.repeat(np.arange(len(counts)), counts)
    order = np.lexsort((sh, doc))
    sh, doc = sh[order], doc[order]
    first = np.ones(len(sh), dtype=bool)
    first[1:] = (doc[1:] != doc[:-1]) | (sh[1:] != sh[:-1])
    sh, doc = sh[first].astype(np.int64), doc[first]
    lens = np.bincount(doc, minlength=len(counts))
    empty = counts == 0
    anchor = np.zeros(len(counts), dtype=np.int64)
    anchor[~empty] = sh[(np.cumsum(lens) - lens)[~empty]]
    return [pa.array(anchor, mask=empty), list_array(lens, sh, empty)]


def containment_edges(df: DataFrame, cfg: DedupConfig,
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
    sh = token_signatures(df.select("url", "text"), Family(
        [T.StructField("anchor", T.LongType()),
         T.StructField("shingles", T.ArrayType(T.LongType()))],
        partial(_anchor_arrays, k=cfg.shingle_size)))
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
        toks = F.filter(
            F.split(F.lower(F.coalesce("text", F.lit(""))), "[^0-9a-z_]+"),
            lambda t: t != "")
        probe = F.concat(F.lit(" "), F.array_join(toks, " "), F.lit(" "))
    elif verify == "raw":
        probe = F.col("text")
    else:
        raise ValueError(f"unknown verify mode: {verify!r}")
    ti = df.select(F.col("url").alias("inner"), probe.alias("_t_in"))
    to = df.select(F.col("url").alias("outer"), probe.alias("_t_out"))
    return (
        cand.join(ti, "inner")
        .join(to, "outer")
        .filter(F.expr("contains(_t_out, _t_in)"))
        .select("inner", "outer")
    )
