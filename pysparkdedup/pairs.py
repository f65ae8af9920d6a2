"""Skew-aware candidate-pair generation from bucket keys.

Shared by the MinHash-LSH band, SimHash block, dHash block and sign-LSH
embedding buckets. This is the explicit skew engineering the north_rule
requires — the scale analog of the reference's set-level short-circuit that
keeps a 200-copy set O(n), never O(n^2) (ref deduplicate.py:292-301,
tests/test_performance.py:316-341):

- **cold buckets** (size <= cap): full pairwise candidates, generated JVM-side
  from a sorted ``collect_list`` via nested ``transform`` — no Python, no
  self-join (one shuffle instead of two).
- **hot buckets** (size > cap, e.g. boilerplate mega-clusters): salted
  two-level star. Members pair with their salt-partition leader (window min —
  no array ever materializes, so a 10^10-row bucket costs O(n) rows and
  bounded memory), then the <= nsalt salt leaders pair with the bucket leader.
  Stars preserve bucket connectivity for union-find at O(n) pairs; the
  full-pairwise recall inside hot buckets is deliberately traded away.

The gate is per bucket, in one primitive: ``split_buckets`` returns the cold
rows for the caller's pairing (``bucket_pairs``' JVM one, or the embedding
path's fused cosine scorer) and the hot buckets' star pairs.

Physical shape: one persisted (tiny) bucket-size frame feeds both branches;
the cold branch hash-joins sizes back on the bucket key — singleton
buckets, the vast majority of an LSH banding, drop BEFORE the heavy
collect_list, which then reuses the join's partitioning exchange-free; the
hot branch broadcasts the (few, by the definition of skew) hot keys so it
is a map-side filter with no second shuffle join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_CAP = 2000
DEFAULT_NSALT = 64


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
