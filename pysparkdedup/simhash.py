"""SimHash 64-bit signatures + Hamming-ball candidate generation.

Complements MinHash for near-exact duplicates: two documents whose SimHashes
differ in <= ``hamming_threshold`` bits are candidates. Candidate generation
uses the pigeonhole block trick: split the 64-bit signature into
(threshold + 1) blocks — any pair within Hamming distance k agrees exactly on
at least one block — then pair and verify each (block_id, block_value)
bucket in the shared skew-aware scorer (pairs.scored_edges): the Hamming
popcount of ``a ^ b`` (``_hamming``) must be <= k.

Signature computation is a vectorized pandas UDF: per-batch unique-token
hashing (memoized blake2b), per-doc unpacked-bit vote accumulation in numpy.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .components import connected_components
from .config import DedupConfig
from .pairs import scored_edges

SIMHASH_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("simhash", T.LongType(), True),
])


def _le64(arr: np.ndarray) -> np.ndarray:
    """uint64 array with a guaranteed little-endian byte layout so that
    ``.view(np.uint8)`` / packbits round-trips pin the bit numbering on any
    host (free on little-endian machines)."""
    import sys

    return arr if sys.byteorder == "little" else arr.byteswap()


def simhash_signatures(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(url, simhash long); null for empty docs.

    Batch-vectorized: each token occurrence votes once (which IS the
    count-weighted vote), so the per-doc vote vector is one
    ``np.add.reduceat`` over the batch's +-1 bit matrix — no per-doc loops.
    """
    from pysparkdedup.tokenhash import batch_token_hashes

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            doc_lens, occ_hashes = batch_token_hashes(pdf[text_col].tolist())
            ndocs = len(doc_lens)
            total = len(occ_hashes)
            out = np.zeros(ndocs, dtype=np.int64)
            empty = doc_lens == 0
            if total:
                bits = np.unpackbits(
                    _le64(occ_hashes).view(np.uint8).reshape(-1, 8), axis=1,
                    bitorder="little")
                # Segment sums via add.reduceat with an int32 accumulator:
                # 3x the int64 full-batch cumsum (which materializes a
                # (total, 64) int64 intermediate — pure DRAM traffic) and
                # bit-identical, since per-doc bit counts are exact
                # integers in any width >= log2(doc_len). votes =
                # 2*bitsum - n.
                lens_nz = doc_lens[~empty]
                offs = np.zeros(len(lens_nz), dtype=np.int64)
                np.cumsum(lens_nz[:-1], out=offs[1:])
                bitsum = np.add.reduceat(
                    bits.astype(np.int32), offs, axis=0).astype(np.int64)
                votes = 2 * bitsum - lens_nz[:, None]  # (nd, 64)
                out_bits = (votes > 0).astype(np.uint8)
                packed = _le64(np.packbits(out_bits, axis=1,
                                           bitorder="little")
                               .view(np.uint64))[:, 0]
                out[~empty] = packed.astype(np.int64)
            vals = pd.array(
                [None if empty[i] else int(out[i]) for i in range(ndocs)],
                dtype="Int64")
            yield pd.DataFrame({"url": pdf["url"], "simhash": vals})

    return df.select("url", text_col).mapInPandas(
        compute, schema=SIMHASH_SCHEMA)


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
