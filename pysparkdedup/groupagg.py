"""Sharded per-group aggregates: two-phase groupBy + join-back.

A ``F.agg(...).over(Window.partitionBy(key))`` computes each group inside ONE
task: WindowExec sorts and buffers the whole partition, so a boilerplate
mega-cluster (1% of a 10^12-row corpus sharing one cluster_key) becomes a
10^10-row single-task straggler — on exactly the skew the rest of the engine
defuses (pairs.py salted stars). The reference keeps a 200-copy set O(n)
(ref deduplicate.py:292-301); at web scale O(n) must also mean *sharded*.

``with_group_stats`` computes the same per-group scalars skew-proof:

1. ``df.groupBy(key).agg(...)`` — HashAggregate runs PARTIAL (map-side) first,
   so the mega-group is combined within every upstream task before the
   shuffle moves one tiny row per task;
2. an equi-join back on the key — unlike a window, a shuffle join is
   AQE-skew-splittable (spark.sql.adaptive.skewJoin splits the fat fact-side
   partition and replicates the single matching stats row), and a small
   stats side can be broadcast by AQE outright.

Null keys join null (``eqNullSafe``), matching Window's null-grouping
semantics exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_group_stats(df: DataFrame, key: str,
                     aggs: list[Column]) -> DataFrame:
    """Attach per-group aggregate columns to every row of ``df``.

    Equivalent to computing each aggregate ``.over(Window.partitionBy(key))``
    but sharded (see module docstring). The aggregate aliases become the new
    columns; callers drop them when done.
    """
    tmp = f"_gs_{key}"
    stats = df.groupBy(key).agg(*aggs).withColumnRenamed(key, tmp)
    return (
        df.join(stats, on=F.col(key).eqNullSafe(F.col(tmp)), how="left")
        .drop(tmp)
    )
