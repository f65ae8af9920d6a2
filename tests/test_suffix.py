"""Substring dedup tests: suffix array kernel, partition sweep, anchor join."""

from pyspark.sql import functions as F

from pysparkdedup.config import DedupConfig
from pysparkdedup.corpus import pages_and_truth
from pysparkdedup.suffix import (
    containment_edges, partition_substring_dedup, suffix_array,
)
from tests.conftest import ts


def test_suffix_array_kernel():
    s = "banana"
    sa = suffix_array(s).tolist()
    expected = sorted(range(len(s)), key=lambda i: s[i:])
    assert sa == expected


def test_suffix_array_empty_and_single():
    assert suffix_array("").tolist() == []
    assert suffix_array("x").tolist() == [0]


def test_partition_sweep_finds_containment(pages_factory):
    long_text = " ".join(f"w{i}" for i in range(100))
    inner = " ".join(f"w{i}" for i in range(30, 60))
    df = pages_factory([
        ("u/long", ts(0), long_text, "en"),
        ("u/short", ts(1), inner, "en"),
        ("u/other", ts(2), " ".join(f"z{i}" for i in range(50)), "en"),
    ]).coalesce(1)
    got = {
        (r["url"], r["contained_in"])
        for r in partition_substring_dedup(df).collect()
    }
    assert ("u/short", "u/long") in got
    assert all(u != "u/other" for u, _ in got)


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


def test_nul_bearing_text_no_false_containment(pages_factory):
    """A text containing NUL can match across the partition-concatenation
    separator; the span check must reject that hit (code-review r2 finding:
    without it the NUL doc is falsely 'contained' and deleted)."""
    from pysparkdedup.suffix import partition_substring_dedup

    p = "xxxxxxxxxxxxxxxxxxxA"
    q = "Byyyyyyyyyyyyyyyyyyy"
    nul_doc = p[-10:] + "\x00" + q[:10]  # exactly the cross-boundary bytes
    rows = [("u/p", ts(0), p, "en"), ("u/q", ts(1), q, "en"),
            ("u/nul", ts(2), nul_doc, "en")]
    out = partition_substring_dedup(
        pages_factory(rows).coalesce(1), min_chars=20).collect()
    assert all(r["url"] != "u/nul" for r in out), out
