"""Embedding similarity search: brute-force cosine top-k + LSH-bucketed ANN.

Two paths over an ``array<float>`` embedding column:

- ``cosine_topk`` — exact baseline: broadcast the (small) query set, compute
  per-partition partial top-k with one numpy matmul per Arrow batch, then a
  global top-k window. Correct at any scale where queries fit in memory; the
  corpus side streams.
- ``lsh_topk`` — scale path: hash-deterministic Rademacher sign-LSH buckets
  corpus and queries; candidates share >= 1 of ``n_tables`` bucket keys;
  exact cosine is then computed only for candidates. Recall is tunable with
  n_tables/n_bits.
- ``ivf_topk`` — second scale path: IVF inverted lists under hash-sampled
  centroids (``ivf_centroids``), queries probe ``nprobe`` lists; recall is
  tunable with n_list/nprobe and candidates are bounded by list sizes.

Every exact cosine here — the ANN re-rank, ``embedding_dup_edges`` and
``cosine_pairs_exact`` (explicit id pairs) — is ``_fold_mats`` run by the
shared scoring kernels of pairs.py: a deterministic per-dimension left fold
in double precision, bit-identical to the DuckDB oracle replay.

The per-vector kernels (top-k partials, sign-LSH buckets, IVF assignment)
are ``mapInArrow`` maps that decode embeddings, like the scorers and the
driver-side query and centroid matrices, with ``pairs._payload``.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .pairs import _payload, score_pairs, scored_edges


def _fold_mats(ea: np.ndarray, eb: np.ndarray) -> np.ndarray:
    """Row-wise cosine between two (n, dim) matrices, upcast to float64, as
    an ordered per-dimension left fold — the same operation order (and
    hence the same IEEE doubles) as the DuckDB ``list_reduce`` oracle
    replay; a BLAS matmul's pairwise-summation order is unspecified and
    could differ in the last ulp. The embedding family's score for the
    shared kernels of pairs.py."""
    ea = np.asarray(ea, dtype=np.float64)
    eb = np.asarray(eb, dtype=np.float64)
    dot = np.zeros(len(ea), np.float64)
    na = np.zeros(len(ea), np.float64)
    nb = np.zeros(len(ea), np.float64)
    for d in range(ea.shape[1]):  # ordered left fold per dim
        ca, cb = ea[:, d], eb[:, d]
        dot += ca * cb
        na += ca * ca
        nb += cb * cb
    return dot / (np.sqrt(na) * np.sqrt(nb))


def cosine_pairs_exact(pairs: DataFrame, emb: DataFrame,
                       id_col: str = "vec_id",
                       emb_col: str = "embedding") -> DataFrame:
    """pairs(a, b) + emb(id, embedding) -> (a, b, cosine).

    The joins are JVM (AQE broadcasts the embedding dim when it fits); the
    cosine is the shared pair-row kernel (pairs.score_pairs) over
    ``_fold_mats``, bit-exact with the DuckDB ``list_reduce`` oracle
    replay. A null, empty or ragged vector raises ValueError, as in the
    fused bucket kernel."""
    vecs = emb.select(id_col, emb_col)
    return score_pairs(pairs, vecs, vecs, _fold_mats, "cosine")


_TOPK_SCHEMA = T.StructType([
    T.StructField("query_id", T.LongType(), False),
    T.StructField("vec_id", T.LongType(), False),
    T.StructField("cosine", T.DoubleType(), False),
])


def _unit_rows(mat: np.ndarray) -> np.ndarray:
    return mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)


def _topk_partial(batches, bc, k: int, label: str):
    """mapInArrow kernel: each batch's k best corpus vectors per query."""
    q_ids, q_mat = bc.value
    for batch in batches:
        if not batch.num_rows:
            continue
        vids = batch.column(0)
        c = _payload(vids, batch.column(1), label).astype(np.float64)
        sims = _unit_rows(c) @ q_mat.T  # (batch, nq)
        kk = min(k, len(vids))
        top = np.argpartition(-sims, kk - 1, axis=0)[:kk].T  # (nq, kk)
        yield pa.RecordBatch.from_arrays(
            [pa.array(np.repeat(q_ids, kk)),
             pa.array(vids.to_numpy()[top.ravel()]),
             pa.array(np.take_along_axis(sims.T, top, axis=1).ravel())],
            names=["query_id", "vec_id", "cosine"])


def cosine_topk(corpus: DataFrame, queries_pdf, k: int = 10,
                id_col: str = "vec_id", emb_col: str = "embedding") -> DataFrame:
    """Exact top-k: (query_id, vec_id, cosine), k rows per query.

    ``queries_pdf`` is a small local frame (query_id, embedding list) — a
    pandas frame, a ``pyarrow.Table`` or a dict of columns — broadcast
    once; each Arrow batch does one (batch x dim) @ (dim x nq) matmul.
    """
    spark = corpus.sparkSession
    q = pa.table(queries_pdf)
    q_ids = q.column("query_id").combine_chunks()
    q_mat = _payload(q_ids, q.column("embedding").combine_chunks(),
                     "embedding").astype(np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((q_ids.to_numpy(), q_mat))
    partials = corpus.select(id_col, emb_col).mapInArrow(
        partial(_topk_partial, bc=bc, k=k, label=emb_col),
        schema=_TOPK_SCHEMA)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id"))
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


_PLANE_M = (1 << 31) - 1  # Mersenne prime 2^31-1, same family as minhash.py


def plane_coeffs(n_tables: int, n_bits: int,
                 seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    """Universal-hash coefficients (a, b), one pair per (table, bit).

    The hyperplanes are Rademacher (+-1 entries), derived from the parity of
    h(d) = (a*d + b) mod (2^31-1) over the 1-based embedding dimension d —
    sign-LSH with +-1 projections is the classic SimHash construction
    (Charikar, STOC'02) and +-1 entries are a valid random projection
    (Achlioptas, PODS'01: database-friendly sparse projections). Making the
    entries a *hash of (table, bit, dim)* rather than an RNG stream buys two
    things a 10^12-doc pipeline needs: any executor can regenerate any plane
    without broadcasting O(n_tables*dim*n_bits) floats, and the buckets are
    replayable in plain SQL (the DuckDB oracle embeds these (a, b) as
    literals — same trick as the minhash permutation oracle)."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _PLANE_M, size=(n_tables, n_bits), dtype=np.int64)
    b = rng.integers(0, _PLANE_M, size=(n_tables, n_bits), dtype=np.int64)
    return a, b


def plane_signs(n_tables: int, n_bits: int, dim: int,
                seed: int = 42) -> np.ndarray:
    """(n_tables, dim, n_bits) array of {-1.0, +1.0} plane entries."""
    a, b = plane_coeffs(n_tables, n_bits, seed)
    d = np.arange(1, dim + 1, dtype=np.int64)  # 1-based, matches the oracle's
    # generate_subscripts(embedding, 1); a*d < 2^31 * dim fits int64
    h = (a[:, None, :] * d[None, :, None] + b[:, None, :]) % _PLANE_M
    return np.where((h & 1) == 0, 1.0, -1.0)


def _bucket_batches(batches, n_tables: int, n_bits: int, seed: int,
                    label: str):
    """mapInArrow kernel: (id, embedding) -> (id, table_id, bucket), one
    row per (vector, table)."""
    weights = (1 << np.arange(n_bits)).astype(np.int64)
    for batch in batches:
        if not batch.num_rows:
            continue
        ids = batch.column(0)
        mat = _payload(ids, batch.column(1), label).astype(np.float64)
        n, dim = mat.shape
        # Ordered LEFT-FOLD over dims (d = 0..dim-1), vectorized across
        # the batch AND all tables at once (each (table, bit)
        # accumulator is independent, so folding them side by side in
        # one (batch, n_tables*n_bits) array keeps the per-accumulator
        # addition order identical): bit-identical to the oracle's
        # list_reduce((acc, v) -> acc + v) replay, unlike a BLAS matmul
        # whose pairwise-summation order is unspecified and could flip
        # the sign of a projection within ~1e-12 of zero. O(dim) fused
        # numpy ops per batch instead of O(dim * n_tables).
        pflat = plane_signs(n_tables, n_bits, dim, seed).transpose(
            1, 0, 2).reshape(dim, n_tables * n_bits)  # (dim, tables*bits)
        proj = np.zeros((n, n_tables * n_bits), np.float64)
        for dmi in range(dim):
            proj += mat[:, dmi, None] * pflat[dmi]
        signs = (proj > 0).reshape(n, n_tables, n_bits)
        buckets = (signs.astype(np.int64) * weights).sum(axis=2)
        yield pa.RecordBatch.from_arrays(
            [ids.take(np.tile(np.arange(n), n_tables)),
             pa.array(np.repeat(np.arange(n_tables, dtype=np.int32), n)),
             pa.array(buckets.T.reshape(-1))],
            names=["_id", "table_id", "bucket"])


def hyperplane_buckets(df: DataFrame, n_tables: int = 8, n_bits: int = 12,
                       seed: int = 42,
                       id_col: str = "vec_id",
                       emb_col: str = "embedding") -> DataFrame:
    """(id, table_id, bucket): sign-LSH bucket per table — numpy batched.

    Planes are hash-deterministic Rademacher projections (``plane_signs``):
    regenerated inside each Arrow batch from the seed and the width of the
    batch's decoded embedding matrix alone — nothing is broadcast, and the
    DuckDB oracle replays the exact bucket values from the same (a, b)
    literals. A null, empty or ragged vector raises naming its id.

    The id column rides through untouched, so it may be integral (the
    embeddings table's vec_id) or string (e.g. page urls) — the Arrow
    batch schema mirrors the input type."""
    id_type = df.schema[id_col].dataType
    schema = T.StructType([
        T.StructField("_id", id_type, False),
        T.StructField("table_id", T.IntegerType(), False),
        T.StructField("bucket", T.LongType(), False),
    ])
    return df.select(
        F.col(id_col).alias(id_col), emb_col
    ).mapInArrow(
        partial(_bucket_batches, n_tables=n_tables, n_bits=n_bits,
                seed=seed, label=emb_col),
        schema=schema).withColumnRenamed("_id", id_col)


# Auto-banding target: mean vectors per sign-LSH bucket. Candidate volume
# grows ~linearly with occupancy (n * B / 2 pairs per table), so a FIXED
# n_bits under-partitions big corpora: 200k vectors at n_bits=10 sit at
# ~195 per bucket — just under the 256 degrade cap — and emit ~10^8
# full-pairwise candidates. Targeting B=32 keeps candidates ~n*16 per
# table at ANY corpus size while per-table collision probability for
# cos >= 0.95 pairs stays ~0.25 (0.97 recall over 12 tables).
TARGET_BUCKET_OCCUPANCY = 32


def _auto_n_bits(n_vectors: int, occupancy: int = TARGET_BUCKET_OCCUPANCY,
                 lo: int = 4, hi: int = 24) -> int:
    import math

    if n_vectors <= occupancy:
        return lo
    return max(lo, min(hi, round(math.log2(n_vectors / occupancy))))


def embedding_dup_edges(emb: DataFrame, threshold: float = 0.95,
                        n_tables: int = 12, n_bits: int | None = None,
                        seed: int = 42, id_col: str = "vec_id",
                        emb_col: str = "embedding",
                        max_bucket: int = 256) -> DataFrame:
    """Embedding-cosine near-duplicate edges: (a, b, cosine >= threshold).

    ``n_bits=None`` (default) auto-sizes the banding from the exact vector
    count so mean bucket occupancy tracks TARGET_BUCKET_OCCUPANCY instead
    of exploding with corpus size — the bucket-granularity analog of AQE
    picking shuffle partitions from runtime statistics. The count is one
    column-pruned job and is parallelism-independent, so auto-banded runs
    stay deterministic; pass an explicit ``n_bits`` to pin the layout
    (the oracle queries do — their DuckDB replay embeds it).

    Sign-LSH buckets generate candidates, exact double-precision cosine
    verifies. Feed components.connected_components for embedding-level dup
    clusters — the vector analog of MinHash-LSH.

    Skew is gated per bucket by pairs.scored_edges: every cold bucket
    (<= ``max_bucket`` members) is paired and scored by the fused per-bucket
    kernel (decide with small rows, move heavy bytes once); only the hot
    buckets' salted-star pairs take the id-keyed vector joins of the
    pair-row kernel. Both fold with ``_fold_mats``, so a pair is
    bit-identical whichever branch emits it."""
    from pyspark import StorageLevel

    from .cache import track

    if n_bits is None:
        n_bits = _auto_n_bits(emb.select(id_col).count())
    # Slim (id, table, bucket) rows persisted once: they feed the size
    # aggregation, the hot-bucket probe AND both branches, so the Python
    # bucketing kernel runs exactly once.
    buckets = track(
        hyperplane_buckets(emb, n_tables, n_bits, seed=seed,
                           id_col=id_col, emb_col=emb_col)
        .persist(StorageLevel.MEMORY_AND_DISK))
    return scored_edges(
        buckets, ["table_id", "bucket"], emb.select(id_col, emb_col),
        _fold_mats, "cosine", F.col("cosine") >= threshold,
        id_col=id_col, cap=max_bucket)


def embedding_dup_clusters(emb: DataFrame, threshold: float = 0.95,
                           **kwargs) -> DataFrame:
    """(vec_id-as-url, cluster_key) components over embedding_dup_edges."""
    from .cache import cache_scope
    from .components import connected_components

    # Fixpoint materializes edges eagerly; release bucket-size caches on
    # return (see cache.py).
    with cache_scope():
        edges = embedding_dup_edges(emb, threshold, **kwargs).select(
            F.col("a").cast("string").alias("a"),
            F.col("b").cast("string").alias("b"))
        return connected_components(edges)


def ivf_centroids(corpus: DataFrame, n_list: int = 16, seed: int = 42,
                  id_col: str = "vec_id",
                  emb_col: str = "embedding") -> DataFrame:
    """Deterministic IVF coarse-quantizer centroids: the ``n_list`` corpus
    vectors with the smallest Mersenne-31 hash of their id.

    Classic IVF (Jegou et al., "Product Quantization for Nearest Neighbor
    Search", TPAMI'11) k-means-trains the coarse quantizer; hash-ranked
    *sampled* centroids are the zero-iteration variant — statistically a
    uniform random sample (the hash is a fixed random permutation of ids),
    so expected list sizes are balanced for non-adversarial corpora, and the
    selection is (a) a cheap distributed top-k (TakeOrdered, no shuffle of
    the data rows) and (b) exactly replayable in SQL for the oracle. A
    Lloyd-refinement pass can be layered on top without changing the search
    path; the contract pins the sampled variant.
    """
    a, b = (int(x[0, 0]) for x in plane_coeffs(1, 1, seed))
    h = F.pmod(F.lit(a) * F.pmod(F.col(id_col), F.lit(_PLANE_M)) + F.lit(b),
               F.lit(_PLANE_M))
    return (
        corpus.select(F.col(id_col).alias("list_id"),
                      F.col(emb_col).alias("centroid"),
                      h.alias("_h"))
        .orderBy("_h", "list_id").limit(n_list).drop("_h")
    )


def lloyd_refine(corpus: DataFrame, c_ids: np.ndarray, c_mat: np.ndarray,
                 iters: int = 1, id_col: str = "vec_id",
                 emb_col: str = "embedding") -> np.ndarray:
    """``iters`` pinned Lloyd iterations over the sampled centroids
    (k-means refinement of the IVF coarse quantizer, Jegou TPAMI'11 §II):
    assign every corpus vector to its nearest centroid (cosine DESC,
    list_id ASC — the same rule the search path uses), move each centroid
    to the per-dimension MEAN of its list, keep the old centroid for an
    empty list. list_ids stay the original sampled ids (``c_ids``,
    ascending), so the search path and the oracle reference stable lists;
    returns the refined (n_list, dim) centroid matrix.

    Scale shape: assignment is the Arrow-batched map ``_ivf_assign`` (no
    shuffle); the mean is a posexplode -> groupBy(list_id, dim) hash
    aggregation — n*d skinny rows with map-side partial combine, then
    n_list result rows to the driver. Cosine is scale-invariant, so the
    un-normalized mean quantizes identically to the spherical-k-means
    normalized mean.

    Float note: the mean is an unordered double aggregation, so centroid
    LSBs can vary with partition order; assignment flips only on exact
    cosine ties against both centroids (~1e-16), and the final ranking
    always re-scores with EXACT embeddings, so integer outputs are stable
    in practice (same acceptance as the sign-LSH bucket oracle)."""
    for _ in range(iters):
        assign = _ivf_assign(corpus, c_ids, c_mat, 1, id_col, emb_col,
                             id_col)
        refined = (
            corpus.join(assign, id_col)
            .select("list_id", F.posexplode(F.col(emb_col)).alias("d", "v"))
            .groupBy("list_id", "d")
            .agg(F.avg(F.col("v").cast("double")).alias("m"))
            .groupBy("list_id")
            .agg(F.array_sort(F.collect_list(F.struct("d", "m"))).alias("dm"))
            .select("list_id", F.expr("transform(dm, x -> x.m)").alias("_rc"))
            .toArrow()
        )
        r_ids = refined.column("list_id").combine_chunks()
        c_mat = c_mat.copy()
        c_mat[np.searchsorted(c_ids, r_ids.to_numpy())] = _payload(
            r_ids, refined.column("_rc").combine_chunks(), "centroid")
    return c_mat


def _ivf_batches(batches, bc, nprobe: int, out_id: str, label: str):
    """mapInArrow kernel: (id, embedding) -> (out_id, list_id), the
    ``nprobe`` nearest of the broadcast (ascending ids, unit centroids)."""
    ids, mat = bc.value
    np_ = min(nprobe, len(ids))
    for batch in batches:
        if not batch.num_rows:
            continue
        vids = batch.column(0)
        v = _payload(vids, batch.column(1), label).astype(np.float64)
        sims = _unit_rows(v) @ mat.T  # (batch, n_list); ids ascending
        # stable argsort keeps list_id-ASC order among exact cosine ties
        top = np.argsort(-sims, axis=1, kind="stable")[:, :np_]
        yield pa.RecordBatch.from_arrays(
            [pa.array(np.repeat(vids.to_numpy(), np_)),
             pa.array(ids[top].ravel())],
            names=[out_id, "list_id"])


def _ivf_assign(df: DataFrame, c_ids: np.ndarray, c_mat: np.ndarray,
                nprobe: int, id_col: str, emb_col: str,
                out_id: str) -> DataFrame:
    """(out_id, list_id): the ``nprobe`` nearest centroids by
    (cosine DESC, list_id ASC) — numpy batched, centroids (ids ascending)
    broadcast."""
    bc = df.sparkSession.sparkContext.broadcast((c_ids, _unit_rows(c_mat)))
    schema = T.StructType([
        T.StructField(out_id, T.LongType(), False),
        T.StructField("list_id", T.LongType(), False),
    ])
    return df.select(id_col, emb_col).mapInArrow(
        partial(_ivf_batches, bc=bc, nprobe=nprobe, out_id=out_id,
                label=emb_col),
        schema=schema)


def _rerank(cand: DataFrame, corpus: DataFrame, queries: DataFrame, k: int,
            id_col: str, emb_col: str) -> DataFrame:
    """Top-k of the distinct (query_id, id) candidates of ``cand`` by exact
    cosine (DESC, id ASC): the shared pair-row kernel over ``_fold_mats``,
    so a null or ragged query or corpus vector raises instead of ranking a
    NaN."""
    pairs = cand.select(F.col("query_id").alias("a"),
                        F.col(id_col).alias("b")).dropDuplicates(["a", "b"])
    scored = score_pairs(
        pairs, queries.select("query_id", emb_col),
        corpus.select(id_col, emb_col), _fold_mats, "cosine",
    ).select(F.col("a").alias("query_id"), F.col("b").alias(id_col), "cosine")
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
             n_list: int = 16, nprobe: int = 4, seed: int = 42,
             id_col: str = "vec_id", emb_col: str = "embedding",
             lloyd_iters: int = 0) -> DataFrame:
    """IVF approximate top-k: corpus vectors are inverted-listed under their
    nearest sampled centroid (``ivf_centroids``); each query probes its
    ``nprobe`` nearest lists and exact cosine re-ranks the candidates.
    ``lloyd_iters`` > 0 runs that many pinned k-means refinement passes over
    the sampled centroids first (``lloyd_refine``) — materially better
    recall on clustered corpora, same search path.

    The scale shape mirrors lsh_topk: centroids are a broadcast-sized frame
    (n_list ~ sqrt(n) at most), assignment is one Arrow-batched map over the
    corpus (no shuffle), and the candidate join is an equi-join on list_id
    whose fan-in is bounded by the list sizes — a hash-sampled quantizer
    keeps expected list size n/n_list, and a skewed corpus degrades to at
    worst nprobe lists per query, never a cross join."""
    cent = ivf_centroids(corpus, n_list, seed, id_col=id_col,
                         emb_col=emb_col).toArrow().sort_by("list_id")
    if not cent.num_rows:
        # An empty corpus has no centroids to assign to (advice r3); an
        # empty result frame is the honest answer — there is nothing to
        # rank.
        return corpus.sparkSession.createDataFrame(
            [], schema=f"query_id long, {id_col} long, cosine double, rank int")
    c_ids = cent.column("list_id").combine_chunks()
    c_mat = _payload(c_ids, cent.column("centroid").combine_chunks(),
                     "centroid").astype(np.float64)
    c_ids = c_ids.to_numpy()
    if lloyd_iters:
        c_mat = lloyd_refine(corpus, c_ids, c_mat, lloyd_iters,
                             id_col=id_col, emb_col=emb_col)
    corpus_lists = _ivf_assign(corpus, c_ids, c_mat, 1, id_col, emb_col,
                               id_col)
    query_lists = _ivf_assign(queries, c_ids, c_mat, nprobe,
                              "query_id", emb_col, "query_id")
    return _rerank(query_lists.join(corpus_lists, "list_id"), corpus,
                   queries, k, id_col, emb_col)


def lsh_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
             n_tables: int = 8, n_bits: int = 12, seed: int = 42,
             id_col: str = "vec_id", emb_col: str = "embedding",
             max_bucket: int = 4096, hot_obs=None) -> DataFrame:
    """Approximate top-k via shared sign-LSH buckets, exact cosine on
    candidates only. queries: DataFrame (query_id, embedding).

    Skew guard (same discipline as embedding_dup_edges / pairs.bucket_pairs):
    the query-bucket x corpus-bucket equi-join is quadratic on exactly the
    skewed key — a low-entropy embedding region (or n_bits too small) can put
    a large corpus fraction in ONE bucket, making the candidate set
    |queries-in-bucket| x |corpus-in-bucket|. Corpus buckets larger than
    ``max_bucket`` are dropped from candidate generation: a bucket holding
    that much of the corpus carries almost no locality signal anyway (it is
    the LSH analog of a stopword posting, cf. the df-cut in ngram.py), and a
    query whose every table lands hot degrades to no candidates rather than
    an unbounded join. The degradation is observable, never silent: pass
    ``hot_obs`` (a pyspark.sql.Observation) to collect ``hot_buckets`` /
    ``hot_rows`` metrics during the action that materializes the result.

    The gate is not ``pairs.split_buckets``: a query can match a ONE-member
    corpus bucket, which ``split_buckets`` drops (it keeps buckets of >= 2
    members), and hot buckets drop here instead of starring. Sharing it
    would make the gate branch on its caller.
    """
    cb = hyperplane_buckets(corpus, n_tables, n_bits, seed=seed,
                            id_col=id_col, emb_col=emb_col)
    qb = hyperplane_buckets(
        queries.select(F.col("query_id").alias(id_col), emb_col),
        n_tables, n_bits, seed=seed, id_col=id_col, emb_col=emb_col,
    ).withColumnRenamed(id_col, "query_id")
    sizes = cb.groupBy("table_id", "bucket").agg(
        F.count(F.lit(1)).alias("_bsize"))
    if hot_obs is not None:
        sizes = sizes.observe(
            hot_obs,
            F.sum((F.col("_bsize") > max_bucket).cast("long"))
            .alias("hot_buckets"),
            F.sum(F.when(F.col("_bsize") > max_bucket, F.col("_bsize"))
                  .otherwise(F.lit(0))).alias("hot_rows"),
        )
    # The build side is one skinny row per cold bucket — shuffle_hash skips
    # the SMJ sort of the (much wider) corpus bucket rows.
    cold_cb = cb.join(
        sizes.filter(F.col("_bsize") <= max_bucket).drop("_bsize")
        .hint("shuffle_hash"),
        ["table_id", "bucket"],
    )
    return _rerank(qb.join(cold_cb, ["table_id", "bucket"]), corpus, queries,
                   k, id_col, emb_col)
