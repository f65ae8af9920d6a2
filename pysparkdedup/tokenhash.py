"""Vectorized byte-level tokenization + token hashing over Arrow buffers —
zero Python objects in the hot path — and the one ``mapInArrow`` kernel
every token signature runs in.

The naive tokenizer (regex findall -> per-token str objects -> per-token
blake2b) allocates millions of Python strings per Arrow batch; the object
churn (allocator + page-fault pressure) caps multi-core scaling long before
the CPUs are busy. This module does the whole thing in numpy over a string
column's Arrow buffers: the data buffer holds the batch's UTF-8 bytes and
the offsets cut it into documents, so no text is decoded or copied:

- lowercase via a 256-entry LUT (ASCII; non-ASCII bytes pass through and are
  treated as word bytes — a documented approximation of ``\\w`` for
  multi-byte scripts, consistent on both sides of any comparison since both
  sides hash the same bytes);
- token spans via the +-1 edges of the is-word-byte mask, cut at every
  document boundary the offsets name;
- per-token 64-bit hashes via a vectorized polynomial over the first
  ``MAX_TOKEN_BYTES`` bytes (one fused loop iteration per byte offset, not
  per token), finished with a murmur3-style avalanche so every output bit is
  usable by SimHash.

``token_signatures`` tokenizes each batch once for every signature
``Family`` it is given: MinHash (minhash.py), SimHash (simhash.py) and
containment shingles (suffix.py).
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial
from typing import NamedTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MAX_TOKEN_BYTES = 24  # tokens hash their first 24 bytes (longer \w runs are rare)
_B = np.uint64(1099511628211)  # FNV64 prime, odd => bijective mod 2^64

_LOWER = np.arange(256, dtype=np.uint8)
_LOWER[65:91] += 32  # A-Z -> a-z

_c = np.arange(256)
_IS_WORD = ((48 <= _c) & (_c <= 57)) | ((97 <= _c) & (_c <= 122)) | (
    _c == 95) | (_c >= 0x80)
# note: table is indexed AFTER lowercasing, so A-Z never reach it.

# Fused LUT: raw byte -> word-edge int8 in one gather (saves a full pass +
# temp array over the batch's bytes — this stage is DRAM-bandwidth-bound).
_WORD_I8 = _IS_WORD[_LOWER].astype(np.int8)


def _avalanche(x: np.ndarray) -> np.ndarray:
    """murmur3 fmix64 — public-domain bit finalizer, vectorized."""
    x = x.copy()
    x ^= x >> np.uint64(33)
    x *= np.uint64(0xFF51AFD7ED558CCD)
    x ^= x >> np.uint64(33)
    x *= np.uint64(0xC4CEB9FE1A85EC53)
    x ^= x >> np.uint64(33)
    return x


def batch_token_hashes(texts: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """texts (Arrow ``string`` or ``large_string``, possibly a slice; a null
    tokenizes as "") -> (doc_lens, token_hashes).

    ``doc_lens[i]`` is the token count of doc i; ``token_hashes`` is the
    concatenation of every doc's token hash sequence, in order.
    """
    if texts.null_count:
        texts = texts.fill_null("")  # a null slot may still own bytes
    ndocs = len(texts)
    doc_lens = np.zeros(ndocs, dtype=np.int64)
    width = np.int64 if pa.types.is_large_string(texts.type) else np.int32
    _, offs_buf, data = texts.buffers()
    offs = np.frombuffer(offs_buf, dtype=width)[
        texts.offset : texts.offset + ndocs + 1].astype(np.int64)
    if ndocs == 0 or offs[-1] == offs[0]:
        return doc_lens, np.empty(0, dtype=np.uint64)
    raw = np.frombuffer(data, dtype=np.uint8)[offs[0] : offs[-1]]
    bounds = offs - offs[0]

    word = _WORD_I8[raw]  # fused lower+classify, one gather
    edges = np.diff(word, prepend=np.int8(0), append=np.int8(0))
    starts = np.flatnonzero(edges == 1)
    ends = np.flatnonzero(edges == -1)
    # A word run across a document boundary is two tokens: cut it there.
    cuts = np.unique(bounds[1:-1])
    cuts = cuts[(cuts > 0) & (cuts < len(raw))]
    cuts = cuts[(word[cuts - 1] & word[cuts]) == 1]
    if len(cuts):
        starts = np.insert(starts, np.searchsorted(starts, cuts), cuts)
        ends = np.insert(ends, np.searchsorted(ends, cuts), cuts)
    if len(starts) == 0:
        return doc_lens, np.empty(0, dtype=np.uint64)
    lens = ends - starts

    # doc of each token: the last doc starting at or before it (an empty
    # doc shares its start with the next one)
    tok_doc = np.searchsorted(bounds, starts, side="right") - 1
    doc_lens += np.bincount(tok_doc, minlength=ndocs)  # add.at is ~10x slower

    # vectorized polynomial hash over byte offsets (fused across all tokens);
    # lowercasing happens on the gathered token bytes only (they're ~the text
    # anyway, but this skips a full-pass temp array)
    acc = np.zeros(len(starts), dtype=np.uint64)
    max_len = min(int(lens.max()), MAX_TOKEN_BYTES)
    for j in range(max_len):
        alive = lens > j
        acc[alive] = acc[alive] * _B + _LOWER[raw[starts[alive] + j]]
    # fold the true length in so prefix-sharing tokens of different lengths
    # still differ (beyond the MAX_TOKEN_BYTES truncation)
    acc ^= np.minimum(lens, MAX_TOKEN_BYTES).astype(np.uint64)
    return doc_lens, _avalanche(acc)


class Family(NamedTuple):
    """One signature family: the Spark fields it appends, and
    ``fn(doc_lens, token_hashes)`` returning one Arrow array per field."""

    fields: list[T.StructField]
    fn: Callable


def list_array(lens: np.ndarray, flat: np.ndarray,
               null: np.ndarray) -> pa.ListArray:
    """Arrow list column over ``flat``: row i holds the next ``lens[i]``
    values, and is null where ``null`` is set (with ``lens[i] == 0``)."""
    offsets = np.concatenate(([0], np.cumsum(lens))).astype(np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat),
                                    mask=pa.array(null))


def _sign(batches, fns: list[Callable], names: list[str]):
    """mapInArrow kernel: tokenize each batch's ``text`` once, then replace
    it by every family's columns; the other columns pass through."""
    for batch in batches:
        cols = [batch.column(n) for n in batch.schema.names if n != "text"]
        doc_lens, hashes = batch_token_hashes(batch.column("text"))
        for fn in fns:
            cols += fn(doc_lens, hashes)
        yield pa.RecordBatch.from_arrays(cols, names=names)


def token_signatures(df: DataFrame, *families: Family) -> DataFrame:
    """``df`` with its ``text`` column replaced by each family's columns,
    computed in one ``mapInArrow`` that tokenizes every document once."""
    fields = [f for f in df.schema.fields if f.name != "text"]
    fields += [f for fam in families for f in fam.fields]
    return df.mapInArrow(
        partial(_sign, fns=[fam.fn for fam in families],
                names=[f.name for f in fields]),
        schema=T.StructType(fields))
