"""Substring containment tests: the min-shingle anchor join."""

from pyspark.sql import functions as F

from pysparkdedup.config import DedupConfig
from pysparkdedup.corpus import pages_and_truth
from pysparkdedup.suffix import containment_edges


def test_containment_edges_distributed(spark):
    """Anchor join finds planted substring pairs regardless of partitioning."""
    pages, truth = pages_and_truth(spark, 1000, partitions=8)
    cfg = DedupConfig()
    edges = containment_edges(pages, cfg)
    joined = (
        edges.join(truth.withColumnRenamed("url", "inner"), "inner")
        .join(
            truth.select(F.col("url").alias("outer"),
                         F.col("true_cluster").alias("outer_cluster")),
            "outer",
        )
    )
    sub_pairs = truth.filter(F.col("dup_kind") == "substring").groupBy(
        "true_cluster").count().filter(F.col("count") == 2).count()
    found = joined.filter(
        (F.col("dup_kind") == "substring")
        & (F.col("true_cluster") == F.col("outer_cluster"))
    ).count()
    assert sub_pairs > 0
    assert found >= sub_pairs  # every planted containment found


def test_containment_token_verify(pages_factory):
    """verify='token': whitespace-insensitive contiguous token containment —
    candidate generation is provably complete for this semantic (every inner
    shingle is an outer shingle), so the driver's DuckDB oracle can replay it
    exactly."""
    from pysparkdedup.config import DedupConfig
    from pysparkdedup.suffix import containment_edges
    from tests.conftest import ts

    inner = "alpha beta gamma delta epsilon"
    outer = "zero  alpha beta\tgamma delta epsilon omega"  # ws jitter
    rows = [
        ("u/in", ts(0), inner, "en"),
        ("u/out", ts(1), outer, "en"),
        ("u/other", ts(2), "one two three four five six", "en"),
    ]
    cfg = DedupConfig()  # shingle_size=5
    tok = {(r["inner"], r["outer"]) for r in
           containment_edges(pages_factory(rows), cfg,
                             verify="token").collect()}
    assert tok == {("u/in", "u/out")}
    raw = {(r["inner"], r["outer"]) for r in
           containment_edges(pages_factory(rows), cfg, verify="raw").collect()}
    assert raw == set()  # ws jitter breaks byte-level containment
