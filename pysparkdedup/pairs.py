"""Skew-aware candidate-pair generation and scoring from bucket keys.

Shared by the MinHash-LSH band, SimHash block, dHash block and sign-LSH
embedding buckets. This is the explicit skew engineering the north_rule
requires — the scale analog of the reference's set-level short-circuit that
keeps a 200-copy set O(n), never O(n^2) (ref deduplicate.py:292-301,
tests/test_performance.py:316-341):

- **cold buckets** (size <= cap): full pairwise, from one sorted
  ``collect_list`` per bucket — no self-join (one shuffle instead of two).
- **hot buckets** (size > cap, e.g. boilerplate mega-clusters): salted
  two-level star. Members pair with their salt-partition leader (window min —
  no array ever materializes, so a 10^10-row bucket costs O(n) rows and
  bounded memory), then the <= nsalt salt leaders pair with the bucket leader.
  Stars preserve bucket connectivity for union-find at O(n) pairs; the
  full-pairwise recall inside hot buckets is deliberately traded away.

The gate is per bucket, in one primitive, ``split_buckets``, with two
callers:

- ``bucket_pairs`` — bare candidate pairs, cold buckets paired JVM-side by
  nested ``transform`` (dHash values; ``minhash.candidate_pairs``);
- ``scored_edges`` — the one group -> decide step of every signature family
  (MinHash Jaccard, SimHash Hamming, embedding cosine). Each cold bucket is
  paired AND scored in one fused ``mapInArrow`` over its members' payloads
  (a payload crosses into Python once per bucket member, not twice per
  candidate pair); hot stars go through the pair-row kernel
  ``score_pairs``. A family is one numpy score ``(A, B) -> scores`` over
  two (n, width) payload matrices, so neither kernel branches on its
  caller.

Physical shape: one persisted (tiny) bucket-size frame feeds both branches;
the cold branch hash-joins sizes back on the bucket key — singleton
buckets, the vast majority of an LSH banding, drop BEFORE the heavy
collect_list, which then reuses the join's partitioning exchange-free; the
hot branch broadcasts the (few, by the definition of skew) hot keys so it
is a map-side filter with no second shuffle join.
"""

from __future__ import annotations

from functools import partial

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_CAP = 2000
DEFAULT_NSALT = 64

# Pairs indexed and scored per kernel step: bounds the bucket kernel's
# working set to O(slice x width) beyond its decoded batch, however many
# buckets one Arrow batch carries (plus one size's triu pattern, O(cap^2)).
_SCORE_SLICE = 65536


def split_buckets(
    df: DataFrame,
    bucket_cols: list[str],
    id_col: str = "url",
    cap: int = DEFAULT_CAP,
    nsalt: int = DEFAULT_NSALT,
) -> tuple[DataFrame, DataFrame | None]:
    """Gate every bucket of ``df`` (one row per (bucket..., id)) on its size.

    Returns ``(cold_rows, star_pairs)``: the rows of every colliding bucket
    with at most ``cap`` members, and the salted-star pairs (a, b), a < b,
    of the buckets past ``cap`` — or None when there are none, so the hot
    subtree is pruned from the plan.
    """
    from pyspark import StorageLevel

    from .cache import track

    # Multi-member bucket sizes. Persisted (lazy, tiny: one skinny row per
    # COLLIDING bucket) because both branches read it and Spark has no
    # DAG-level CSE — without it the aggregation over every bucket row runs
    # twice.
    sizes = track(
        df.groupBy(*bucket_cols)
        .agg(F.count(F.lit(1)).alias("_bsize"))
        .filter(F.col("_bsize") >= 2)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    # Runtime dispatch on ACTUAL skew (AQE philosophy): most invocations
    # have zero hot buckets, yet the hot branch still costs a broadcast
    # job, two window stages and a distinct — per invocation, at any data
    # size. One LIMIT-1 count against the (persisted, already-needed)
    # sizes frame detects the common case and prunes the whole hot
    # subtree from the plan; when skew IS present the full salted-star
    # machinery runs unchanged.
    hot_exists = (
        sizes.filter(F.col("_bsize") > cap).limit(1).count() > 0)

    # --- cold: colliding buckets up to the cap ----------------------------
    # The inner join drops singleton buckets — the vast majority of an LSH
    # banding — BEFORE the caller's heavy per-bucket aggregation;
    # shuffle_hash skips the SortMergeJoin's full sort of the bucket rows
    # (measured 2.5x on this stage), and the join's hash partitioning feeds
    # a groupBy on the bucket key exchange-free. Scale-safe: the build side
    # is one skinny row per colliding cold bucket, partition-bounded.
    cold_sizes = (sizes.filter(F.col("_bsize") <= cap) if hot_exists
                  else sizes)
    cold_rows = df.join(
        cold_sizes.drop("_bsize").hint("shuffle_hash"),
        on=bucket_cols, how="inner",
    )
    if not hot_exists:
        return cold_rows, None

    # --- hot: salted two-level star, window-only (no arrays) --------------
    # Hot keys are FEW by the definition of skew: broadcast them, so the hot
    # branch is a map-side filter over the bucket rows — no second shuffle
    # join, no recomputation diamond.
    hot_keys = sizes.filter(F.col("_bsize") > cap).drop("_bsize")
    hot = df.join(F.broadcast(hot_keys), on=bucket_cols, how="inner").withColumn(
        "_salt", F.pmod(F.xxhash64(id_col), F.lit(nsalt))
    )
    w_salt = Window.partitionBy(*bucket_cols, "_salt")
    hot_leaders = hot.withColumn("_sleader", F.min(id_col).over(w_salt))
    level1 = hot_leaders.filter(F.col(id_col) != F.col("_sleader")).select(
        F.col("_sleader").alias("a"), F.col(id_col).alias("b")
    )
    w_bucket = Window.partitionBy(*bucket_cols)
    leaders = hot_leaders.select(*bucket_cols, "_sleader").distinct()
    level2 = (
        leaders.withColumn("_bleader", F.min("_sleader").over(w_bucket))
        .filter(F.col("_sleader") != F.col("_bleader"))
        .select(F.col("_bleader").alias("a"), F.col("_sleader").alias("b"))
    )
    return cold_rows, level1.unionByName(level2)


def bucket_pairs(
    df: DataFrame,
    bucket_cols: list[str],
    id_col: str = "url",
    cap: int = DEFAULT_CAP,
    nsalt: int = DEFAULT_NSALT,
) -> DataFrame:
    """Emit candidate pairs (a, b) with a < b from every bucket.

    Input: one row per (bucket..., id). Output columns: ``a``, ``b``.
    """
    cold_rows, star_pairs = split_buckets(
        df.select(*bucket_cols, F.col(id_col).alias("_id")),
        bucket_cols, "_id", cap, nsalt)
    cold_pairs = (
        cold_rows.groupBy(*bucket_cols)
        .agg(F.sort_array(F.collect_list("_id")).alias("_ms"))
        .select(F.explode(F.expr(
            "flatten(transform(_ms, (x, i) -> "
            "transform(slice(_ms, i + 2, size(_ms)), y -> struct(x AS a, y AS b))))"
        )).alias("p"))
        .select("p.a", "p.b")
    )
    if star_pairs is None:
        return cold_pairs
    return cold_pairs.unionByName(star_pairs)


def _payload(ids, vals, label: str) -> np.ndarray:
    """(n, width) matrix of an Arrow list column whose rows belong to
    ``ids``; width is the column's most common non-zero length, and the
    dtype is the list's own (a score casts if it needs to).

    A null, empty or ragged payload would score as garbage (a NaN cosine, a
    Jaccard over the wrong width) that the threshold then drops without a
    trace, so it raises ValueError naming its ``label`` and id instead. A
    clean list column is one contiguous values buffer, so it reshapes
    without per-row work."""
    import pyarrow.compute as pc

    lens = pc.list_value_length(vals).fill_null(0).to_numpy()
    counts = np.bincount(lens, minlength=1)
    counts[0] = 0  # null and empty payloads never set the width
    width = int(counts.argmax())
    bad = np.flatnonzero((lens != width) | (lens == 0))
    if len(bad):
        raise ValueError(
            f"{label} of id {ids[int(bad[0])]} is null, empty or not "
            f"{width}-dimensional like the rest of its batch")
    return np.asarray(vals.flatten()).reshape(len(vals), width)


def _score_pairs(batches, score, name: str, label: str):
    """mapInArrow kernel: (a, b, a's payload, b's payload) rows ->
    (a, b, ``name``) scored by ``score``."""
    import pyarrow as pa

    for batch in batches:
        if not batch.num_rows:
            continue
        a, b = batch.column(0), batch.column(1)
        pa_ = _payload(a, batch.column(2), label)
        pb_ = _payload(b, batch.column(3), label)
        if pa_.shape != pb_.shape:
            raise ValueError(
                f"{label} of id {b[0]} is not {pa_.shape[1]}-dimensional "
                f"like that of id {a[0]}")
        yield pa.RecordBatch.from_arrays(
            [a, b, pa.array(score(pa_, pb_))], names=["a", "b", name])


def _score_buckets(batches, score, name: str, label: str):
    """mapInArrow kernel: batches of one ``list<struct<id, payload>>``
    column, one id-sorted bucket per row -> (a, b, ``name``) for every
    within-bucket pair with a != b, scored by ``score`` in slices of at most
    _SCORE_SLICE pairs."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for batch in batches:
        ms = batch.column(0)
        members = ms.flatten()
        if not len(members):
            continue
        offs = np.asarray(ms.offsets, dtype=np.int64)
        lens = np.diff(offs)
        starts = offs[:-1] - offs[0]  # offsets are absolute on slices
        ids = members.field(0)
        mat = _payload(ids, members.field(1), label)
        for m in np.unique(lens[lens >= 2]):
            ti, tj = np.triu_indices(int(m), 1)
            bstarts = starts[lens == m]
            # Walk this size group's (bucket, pair) index space one slice at
            # a time, so no more than one slice of pair indices exists.
            total = len(bstarts) * len(ti)
            for lo in range(0, total, _SCORE_SLICE):
                k = np.arange(lo, min(lo + _SCORE_SLICE, total))
                s, p = bstarts[k // len(ti)], k % len(ti)
                ai, bi = s + ti[p], s + tj[p]
                # A duplicated id pairs with itself: never an edge.
                keep = pc.not_equal(ids.take(ai), ids.take(bi)).to_numpy(
                    zero_copy_only=False)
                ai, bi = ai[keep], bi[keep]
                yield pa.RecordBatch.from_arrays(
                    [ids.take(ai), ids.take(bi),
                     pa.array(score(mat[ai], mat[bi]))],
                    names=["a", "b", name])


def score_pairs(pairs: DataFrame, left: DataFrame, right: DataFrame,
                score, name: str, dtype: str = "double") -> DataFrame:
    """pairs(a, b) -> (a, b, ``name``): ``left`` (id, payload) attaches a's
    payload and ``right`` (id, payload) b's — the same frame for a
    self-pairing, the old corpus for a cross-corpus one — and ``score``
    scores each pair in the pair-row kernel. ``dtype`` is the Spark type of
    the score column."""
    (lid, lpay), (rid, rpay) = left.columns, right.columns
    ta, tb = (pairs.schema[c].dataType.simpleString() for c in "ab")
    return (
        pairs.join(left.select(F.col(lid).alias("a"),
                               F.col(lpay).alias("_pa")), "a")
        .join(right.select(F.col(rid).alias("b"),
                           F.col(rpay).alias("_pb")), "b")
        .select("a", "b", "_pa", "_pb")
        .mapInArrow(partial(_score_pairs, score=score, name=name,
                            label=lpay),
                    schema=f"a {ta}, b {tb}, {name} {dtype}")
    )


def scored_edges(
    rows: DataFrame,
    bucket_cols: list[str],
    payload: DataFrame,
    score,
    name: str,
    keep: Column,
    id_col: str = "url",
    cap: int = DEFAULT_CAP,
    dtype: str = "double",
) -> DataFrame:
    """Verified edges (a, b, ``name``), a < b, of every bucket of ``rows``
    (one row per (bucket..., id)) whose ``score`` passes ``keep``.

    ``payload`` is (id_col, payload list) — the signature or vector each
    member is scored by. Cold buckets pair and score in the fused bucket
    kernel: members sorted by id inside the bucket (JVM sort_array) give
    the a < b canonicalization of ``bucket_pairs``. Hot buckets' star pairs
    score in the pair-row kernel. Both call the same ``score`` over the
    same decoded payloads, so a pair's score is bit-identical whichever
    branch emits it."""
    cold_rows, star_pairs = split_buckets(rows, bucket_cols, id_col, cap)
    pcol = payload.columns[1]
    id_type = rows.schema[id_col].dataType.simpleString()
    # Attach each cold member's payload once by id (AQE broadcasts the
    # payload frame when it fits; SHJ otherwise).
    scored = (
        cold_rows.join(payload, id_col)
        .groupBy(*bucket_cols)
        .agg(F.sort_array(F.collect_list(
            F.struct(F.col(id_col).alias("_i"), F.col(pcol).alias("_p"))))
            .alias("_ms"))
        .select("_ms")
        .mapInArrow(partial(_score_buckets, score=score, name=name,
                            label=pcol),
                    schema=f"a {id_type}, b {id_type}, {name} {dtype}")
    )
    if star_pairs is not None:
        scored = scored.unionByName(
            score_pairs(star_pairs, payload, payload, score, name, dtype))
    # Filter BEFORE the (a, b) canonicalization: a pair colliding in k
    # buckets carries k identical scores, so filtering first is
    # result-identical and the dedup exchange moves only the survivors
    # (sub-threshold candidates — the vast majority — never shuffle).
    return scored.filter(keep).dropDuplicates(["a", "b"])
