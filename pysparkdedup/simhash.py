"""SimHash 64-bit signatures + Hamming-ball candidate generation.

Complements MinHash for near-exact duplicates: two documents whose SimHashes
differ in <= ``hamming_threshold`` bits are candidates. Candidate generation
uses the pigeonhole block trick: split the 64-bit signature into
(threshold + 1) blocks — any pair within Hamming distance k agrees exactly on
at least one block — then pair and verify each (block_id, block_value)
bucket in the shared skew-aware scorer (pairs.scored_edges): the Hamming
popcount of ``a ^ b`` (``_hamming``) must be <= k.

Signatures are a family of the token kernel (tokenhash.py): each token
occurrence's 64-bit hash (an FNV-prime polynomial with an fmix64 avalanche)
votes on every bit, summed per doc in numpy.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .components import connected_components
from .config import DedupConfig
from .pairs import scored_edges
from .tokenhash import Family, token_signatures


# Token occurrences unpacked per step: bounds the family's working set to
# O(slice x 320) bytes (64 for the bits, 256 for reduceat's int32 cast of
# them), however many tokens one Arrow batch carries — about 5 MiB. A
# longer document is one step of its own. 2^14 also ran about three times
# faster in-process than 2^18, with identical output.
_SIMHASH_SLICE = 1 << 14


def _simhash_arrays(doc_lens: np.ndarray, occ_hashes: np.ndarray) -> list:
    """The SimHash family: one ``simhash`` array, null for an empty doc.

    Each token occurrence votes once (which IS the count-weighted vote), so
    the per-doc vote vector is one ``np.add.reduceat`` over the +-1 bit
    matrix of a slice of whole documents — no per-doc loops."""
    empty = doc_lens == 0
    out = np.zeros(len(doc_lens), dtype=np.int64)
    lens_nz = doc_lens[~empty]
    ends = np.cumsum(lens_nz)
    starts = ends - lens_nz
    packed = np.empty(len(lens_nz), dtype=np.uint64)
    lo = 0
    while lo < len(lens_nz):
        hi = max(lo + 1, int(np.searchsorted(
            ends, starts[lo] + _SIMHASH_SLICE, side="right")))
        # "<u8" pins the bit numbering to the little-endian byte layout on
        # any host (no copy on a little-endian one).
        bits = np.unpackbits(
            occ_hashes[starts[lo]:ends[hi - 1]].astype("<u8", copy=False)
            .view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
        # Segment sums accumulate in int32: per-doc bit counts are exact
        # integers in any width >= log2(doc_len). votes = 2*bitsum - n.
        bitsum = np.add.reduceat(bits, starts[lo:hi] - starts[lo], axis=0,
                                 dtype=np.int32)
        votes = 2 * bitsum.astype(np.int64) - lens_nz[lo:hi, None]
        packed[lo:hi] = np.packbits(
            votes > 0, axis=1, bitorder="little").view("<u8")[:, 0]
        lo = hi
    out[~empty] = packed.astype(np.int64)
    return [pa.array(out, mask=empty)]


SIMHASH = Family([T.StructField("simhash", T.LongType(), True)],
                 _simhash_arrays)


def simhash_signatures(df: DataFrame) -> DataFrame:
    """(url, simhash long); null for empty docs."""
    return token_signatures(df.select("url", "text"), SIMHASH)


def simhash_blocks(sig_df: DataFrame, cfg: DedupConfig,
                   id_col: str = "url") -> DataFrame:
    """(id, block_id, block_val): (k+1) pigeonhole blocks of the signature."""
    n_blocks = cfg.hamming_threshold + 1
    width = 64 // n_blocks
    mask = (1 << width) - 1
    return sig_df.filter(F.col("simhash").isNotNull()).select(
        id_col,
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {n_blocks - 1}), "
                f"i -> shiftrightunsigned(simhash, i * {width}) & {mask}L)"
            )
        ).alias("block_id", "block_val"),
    )


def _hamming(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Hamming distance of two (n, 1) int64 SimHash matrices, row-wise: the
    popcount of ``a ^ b``."""
    bits = np.unpackbits((a ^ b).view(np.uint8), axis=1)
    return bits.sum(1, dtype=np.int32)


def simhash_edges(pages: DataFrame, cfg: DedupConfig,
                  sigs: DataFrame | None = None) -> DataFrame:
    """Verified (a, b, hamming) edges with hamming <= threshold. Signatures
    persisted: they feed blocking AND the scorer's payload joins. Pass
    ``sigs`` (url, simhash) to reuse checkpointed signatures
    (checkpoint.py) instead of recomputing — the resume path."""
    from pyspark import StorageLevel

    from .cache import track

    if sigs is None:
        sigs = simhash_signatures(pages)
    sigs = track(
        sigs.select("url", "simhash").persist(StorageLevel.MEMORY_AND_DISK))
    return scored_edges(
        simhash_blocks(sigs, cfg), ["block_id", "block_val"],
        sigs.select("url", F.array("simhash").alias("simhash")),
        _hamming, "hamming", F.col("hamming") <= cfg.hamming_threshold,
        cap=cfg.max_bucket_size, dtype="int")


def simhash_clusters(pages: DataFrame, cfg: DedupConfig,
                     sigs: DataFrame | None = None) -> DataFrame:
    """(url, cluster_key) for SimHash components — feed pipeline.run_clustered.

    Stays on the id-level edge path deliberately: the exact-duplicate
    value contraction that pays off for image dHash (re-encoded copies
    hash identically, value space is tiny) was measured a NET LOSS for
    text simhash — 64-bit simhashes of non-identical texts essentially
    never collide (4965 distinct values over 5000 bench docs), so the
    contraction's extra aggregation + expansion joins buy nothing."""
    from .cache import cache_scope

    # The fixpoint materializes the edges eagerly; release the signature /
    # bucket-size caches on return (see cache.py).
    with cache_scope():
        return connected_components(
            simhash_edges(pages, cfg, sigs=sigs).select("a", "b"))
