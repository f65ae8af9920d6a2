"""Exact deduplication: normalized content-hash groupBy.

Re-expresses the reference's load + hash + group steps
(ref deduplicate.py:936-1058): parse/reject, compute the config-selected
content hash, group rows sharing it. The "hash index" dict
(ref deduplicate.py:710-717) is simply the shuffled state of the groupBy /
window partition — never materialized by hand.

All JVM-side: sha2 + regexp in whole-stage codegen; the one shuffle is the
hash partition by ``cluster_key``, which downstream stages (guards, cascade)
reuse — Spark keeps the partitioning, so the whole exact pipeline is a single
exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import DedupConfig
from .normalize import content_hash_expr, raw_text_hash


def annotate(df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Add per-row derived columns: n_bytes, raw_hash, content_hash, rejected.

    - ``n_bytes``  — body char length, matching the reference's ``size``
                     (len of decoded body, ref mail.py:349-362), NOT file size.
    - ``rejected`` — unparsable/too-small rows, counted not crashed
                     (ref TooFewHeaders mail.py:490-496, deduplicate.py:567-576).
    """
    return (
        df.withColumn("n_bytes", F.coalesce(F.length("text"), F.lit(0)))
        .withColumn(
            "rejected",
            F.col("text").isNull()
            | (F.length(F.trim(F.col("text"))) < cfg.min_text_chars),
        )
        .withColumn("raw_hash", raw_text_hash(F.col("text"), cfg.hash_bits))
        .withColumn("content_hash", content_hash_expr(cfg))
    )


def with_cluster_key(df: DataFrame, key_col: str = "content_hash") -> DataFrame:
    """Exact-dup cluster key = the content hash itself.

    A string key scales to 10^12 rows without the 64-bit-birthday collision risk
    a hashed long id would carry; callers needing a long id can xxhash64 it for
    display only. Rejected rows are keyed by their own url: they never join a
    real group's windows (and empty-text rows would otherwise all share
    sha2('') — a skew bomb).
    """
    return df.withColumn(
        "cluster_key",
        F.when(F.col("rejected"), F.col("url")).otherwise(
            F.coalesce(F.col(key_col), F.col("url"))
        ),
    )

