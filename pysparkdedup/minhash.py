"""MinHash signatures + LSH banding for near-duplicate candidate generation.

The near-dup generalization of the reference's hash-key grouping
(ref deduplicate.py:958-1058): where the reference groups on one exact SHA-224
key, this module groups on ``lsh_bands`` many banded MinHash keys, so
documents at Jaccard similarity J collide in >=1 band with probability
1 - (1 - J^r)^b (defaults b=16, r=4 — config.py:49-51: P[collide] ~ 0.9998
at J=0.8 and ~0.23 at J=0.3, so the J>=0.8 verify threshold sees near-full
recall while most sub-0.3 noise pairs never become candidates).

Physical design for 10^12 docs:
- signatures are a family of the token kernel (tokenhash.py, one
  ``mapInArrow``): fully vectorized numpy — a perm-chunked (num_perm x
  total_shingles) universal-hash matrix reduced per doc with
  ``np.minimum.reduceat`` — mirroring how the reference batches worker
  tasks in chunks of 200 (ref deduplicate.py:688-694) but Arrow-sized;
- band hashing is JVM-side (``xxhash64`` over signature slices) so banding
  adds no Python;
- pairing and verification are one step, pairs.scored_edges: each cold band
  bucket is paired and scored in one fused Arrow kernel, hot buckets degrade
  to salted-star pairs, and the score is the estimated Jaccard — the
  fraction of equal signature positions (``_equal_fraction``), exactly
  k/num_perm. ``candidate_pairs`` + ``estimate_jaccard`` are the same
  step split at the pair list, the reference form the benches time.

Shingle hashing: tokens -> tokenhash's 64-bit FNV-prime polynomial with an
fmix64 avalanche, word k-shingles combined with a vectorized rolling
polynomial, masked into the 31-bit Mersenne field so the universal hash
(a*s + b) mod (2^31 - 1) stays exact in uint64 arithmetic.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .components import connected_components
from .config import DedupConfig
from .pairs import bucket_pairs, score_pairs, scored_edges
from .tokenhash import Family, list_array, token_signatures

MERSENNE_31 = np.uint64((1 << 31) - 1)
_POLY_BASE = np.uint64(1099511628211)  # FNV prime, shingle combiner


def _shingles(doc_lens: np.ndarray, tok_hashes: np.ndarray,
              k: int) -> tuple[np.ndarray, np.ndarray]:
    """Word k-shingle hashes of a batch's token stream, grouped by doc, and
    the per-doc shingle counts. Counts are window counts (not distinct) —
    min-over-multiset == min-over-set, so MinHash is unaffected."""
    ndocs = len(doc_lens)
    n = len(tok_hashes) - k + 1
    if n <= 0:
        return np.empty(0, np.uint64), np.zeros(ndocs, np.int64)
    doc_ids = np.repeat(np.arange(ndocs, dtype=np.int64), doc_lens)
    acc = np.zeros(n, dtype=np.uint64)
    for j in range(k):
        acc = acc * _POLY_BASE + tok_hashes[j : j + n]
    valid = doc_ids[:n] == doc_ids[k - 1 : k - 1 + n]
    counts = np.bincount(doc_ids[:n][valid], minlength=ndocs)
    return (acc % MERSENNE_31)[valid], counts.astype(np.int64)


def _perm_params(cfg: DedupConfig) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(cfg.seed)
    p = int(MERSENNE_31)
    a = rng.integers(1, p, size=cfg.num_perm, dtype=np.uint64)
    b = rng.integers(0, p, size=cfg.num_perm, dtype=np.uint64)
    return a, b


def _minhash_arrays(doc_lens: np.ndarray, tok_hashes: np.ndarray, k: int,
                    a_params: np.ndarray, b_params: np.ndarray) -> list:
    """The MinHash family: (minhash, n_shingles) arrays, the signature null
    for a doc with no shingle."""
    all_sh, counts = _shingles(doc_lens, tok_hashes, k)
    nonempty = counts > 0
    nz_lens = counts[nonempty]
    nnz, num_perm = len(nz_lens), len(a_params)
    ends = np.cumsum(nz_lens)
    offsets = ends - nz_lens
    sig_mat = np.empty((nnz, num_perm), dtype=np.int32)
    ac, bc = a_params[:, None], b_params[:, None]
    # Process doc-blocks whose (num_perm x block_shingles) hash matrix stays
    # cache-resident: the naive full-batch matrix is DRAM-bandwidth-bound
    # (GBs of traffic per batch); blocked, the intermediate never leaves
    # L2/L3 and 8->32 cores scales.
    block_target = 2048  # num_perm x block x 8B ~ 1MB: L2-resident
    d0 = 0
    while d0 < nnz:
        d1 = d0
        start = offsets[d0]
        # a single doc larger than the block is a block of its own
        while d1 < nnz and (d1 == d0 or ends[d1] - start <= block_target):
            d1 += 1
        sl = all_sh[start : ends[d1 - 1]]
        m = (ac * sl[None, :] + bc) % MERSENNE_31  # (num_perm, block)
        mins = np.minimum.reduceat(m, offsets[d0:d1] - start, axis=1)
        sig_mat[d0:d1, :] = mins.T  # < 2^31 - 1: exact in int32
        d0 = d1
    return [list_array(np.where(nonempty, num_perm, 0), sig_mat.ravel(),
                       ~nonempty),
            pa.array(counts.astype(np.int32))]


def minhash_family(cfg: DedupConfig) -> Family:
    """MinHash as a token-kernel family: ``minhash array<int>`` (null when
    the doc has fewer than shingle_size tokens) and ``n_shingles``."""
    a, b = _perm_params(cfg)
    return Family([T.StructField("minhash", T.ArrayType(T.IntegerType())),
                   T.StructField("n_shingles", T.IntegerType(), False)],
                  partial(_minhash_arrays, k=cfg.shingle_size,
                          a_params=a, b_params=b))


def minhash_signatures(df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(url, minhash array<int>, n_shingles). Docs with < shingle_size tokens
    get a null signature (cannot be near-dup candidates; the exact path still
    covers them)."""
    return token_signatures(df.select("url", "text"), minhash_family(cfg))


def lsh_bands(sig_df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(url, band_id, band_hash) — JVM-side banding, one row per band."""
    b, r = cfg.lsh_bands, cfg.lsh_rows
    banded = sig_df.filter(F.col("minhash").isNotNull()).select(
        "url",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {b - 1}), "
                f"i -> xxhash64(slice(minhash, i * {r} + 1, {r}), i))"
            )
        ).alias("band_id", "band_hash"),
    )
    return banded


def candidate_pairs(bands_df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Distinct (a, b) url pairs sharing >= 1 band bucket."""
    pairs = bucket_pairs(
        bands_df, ["band_id", "band_hash"], id_col="url", cap=cfg.max_bucket_size
    )
    return pairs.dropDuplicates(["a", "b"])


def _equal_fraction(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Estimated Jaccard of two (n, num_perm) signature matrices, row-wise:
    the fraction of equal positions."""
    return (a == b).sum(1) / a.shape[1]


def estimate_jaccard(pairs: DataFrame, sig_df: DataFrame,
                     cfg: DedupConfig) -> DataFrame:
    """(a, b, jaccard) — fraction of equal MinHash positions of each pair,
    scored by the pair-row kernel (the signatures' width is
    ``cfg.num_perm``)."""
    sigs = sig_df.select("url", "minhash")
    return score_pairs(pairs, sigs, sigs, _equal_fraction, "jaccard")


def minhash_edges(pages: DataFrame, cfg: DedupConfig,
                  sigs: DataFrame | None = None) -> DataFrame:
    """Verified near-dup edges (a, b, jaccard >= threshold).

    Signatures are persisted (memory+disk) — they feed banding AND the
    scorer's payload joins; without the persist the Python signature kernel
    would run again for each. Pass ``sigs`` (url, minhash) to reuse
    checkpointed signatures (checkpoint.py) instead of recomputing — the
    resume path."""
    from pyspark import StorageLevel

    from .cache import track

    if sigs is None:
        sigs = minhash_signatures(pages, cfg)
    sigs = track(
        sigs.select("url", "minhash").persist(StorageLevel.MEMORY_AND_DISK))
    return scored_edges(
        lsh_bands(sigs, cfg), ["band_id", "band_hash"], sigs,
        _equal_fraction, "jaccard",
        F.col("jaccard") >= cfg.jaccard_threshold, cap=cfg.max_bucket_size)


def minhash_clusters(pages: DataFrame, cfg: DedupConfig,
                     sigs: DataFrame | None = None) -> DataFrame:
    """(url, cluster_key) for every url in a near-dup component of size >= 2.

    Feed into pipeline.run_clustered; uncovered urls fall back to their exact
    content hash there.
    """
    from .cache import cache_scope

    # The fixpoint materializes the edge input eagerly (localCheckpoint), so
    # the signature/bucket-size caches are dead weight once it returns —
    # release them instead of leaking one cached frame per invocation.
    with cache_scope():
        edges = minhash_edges(pages, cfg, sigs=sigs).select("a", "b")
        return connected_components(edges)
