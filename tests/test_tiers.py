"""tiers.tiered_dedup — the exact -> near -> semantic cascade ledger.

Covers: tier assignment per planted duplicate kind, pool shrink (a doc
dropped at one tier never reappears at a later one), transitive kept_by
resolution (every kept_by names a 'kept' row), empty/null-text singleton
keying, the semantic tier's opt-in wiring, and stats accounting."""

from __future__ import annotations

import pytest

from pysparkdedup.config import DedupConfig
from pysparkdedup.tiers import tier_stats, tiered_dedup
from tests.conftest import jobs_of, ts


def long_text(last: str = "end") -> str:
    # 100 tokens; two texts differing only in `last` share shingle-Jaccard
    # ~96/101 >> 0.8 -> near-dup, while their ws-stripped hashes differ.
    return " ".join(f"tok{i}" for i in range(99)) + " " + last


def ledger_map(ledger):
    return {r["url"]: (r["tier"], r["kept_by"]) for r in ledger.collect()}


@pytest.fixture()
def tier_pages(pages_factory):
    return pages_factory([
        # near cluster {0, 1}: 1 also has an exact twin 3
        ("0", ts(0), long_text("alpha"), "en"),
        ("1", ts(1), long_text("beta"), "en"),
        ("3", ts(3), long_text("beta"), "en"),
        # unique doc
        ("5", ts(5), "completely unrelated short text here today", "en"),
        # empty/null: unconditional singletons, both kept
        ("6", ts(6), "", "en"),
        ("7", ts(7), None, "en"),
    ])


def test_exact_and_near_tiers(spark, tier_pages):
    got = ledger_map(tiered_dedup(tier_pages, DedupConfig()))
    assert got["3"] == ("exact", "0")   # chain: ->1 ->near winner 0
    assert got["1"] == ("near", "0")
    assert got["0"] == ("kept", "0")
    assert got["5"] == ("kept", "5")
    assert got["6"] == ("kept", "6")
    assert got["7"] == ("kept", "7")


def test_exact_tier_honors_content_hash_mode(spark, pages_factory):
    """The exact tier keys on normalize.content_hash_expr(cfg), not a
    hardcoded normalized hash: under --hash-body raw, whitespace-only
    variants stay distinct at the exact tier (they then collapse or not
    per the NEAR tier's own semantics), while the default normalized mode
    collapses them immediately."""
    pages = pages_factory([
        ("a", ts(0), "alpha beta gamma", "en"),
        ("b", ts(1), "alpha  beta  gamma", "en"),  # ws-only variant
    ])
    norm = ledger_map(tiered_dedup(pages, DedupConfig()))
    assert norm["b"] == ("exact", "a")
    raw = ledger_map(tiered_dedup(
        pages, DedupConfig(content_hash_mode="raw")))
    # too short for shingles -> near tier can't pair them either
    assert raw["a"] == ("kept", "a")
    assert raw["b"] == ("kept", "b")


def test_every_kept_by_is_a_kept_row(spark, tier_pages):
    ledger = tiered_dedup(tier_pages, DedupConfig())
    kept = {r["url"] for r in ledger.filter("tier = 'kept'").collect()}
    for r in ledger.collect():
        assert r["kept_by"] in kept, r


def test_one_row_per_input_doc(spark, tier_pages):
    ledger = tiered_dedup(tier_pages, DedupConfig())
    urls = [r["url"] for r in ledger.collect()]
    assert sorted(urls) == sorted(
        r["url"] for r in tier_pages.select("url").collect())


def test_semantic_tier_and_chain_through_it(spark, tier_pages):
    # Embeddings exist for the would-be survivors; 0 and 5 share an
    # identical vector -> semantic dups; min('0','5') = '0' wins.
    # 3 (exact loser) must then chain exact->near->semantic to 0's
    # survivor, and 5's ledger row flips from kept to semantic.
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (5, [1.0, 0.0, 0.0]),
         (6, [0.0, 1.0, 0.0]), (7, [0.0, 0.0, 1.0])],
        "vec_id long, embedding array<float>")
    got = ledger_map(tiered_dedup(
        tier_pages, DedupConfig(), emb=emb, emb_threshold=0.99,
        emb_kwargs={"n_tables": 4, "n_bits": 2}))
    assert got["5"] == ("semantic", "0")
    assert got["3"] == ("exact", "0")
    assert got["1"] == ("near", "0")
    assert got["0"] == ("kept", "0")
    assert got["6"][0] == "kept"
    assert got["7"][0] == "kept"


def test_chain_resolves_near_loser_through_semantic(spark, pages_factory):
    # 8 near-loses to 2; 2 then semantic-loses to 1 (identical
    # vectors, min wins). 8's kept_by must be 1, not 2.
    pages = pages_factory([
        ("2", ts(0), long_text("gamma"), "en"),
        ("8", ts(1), long_text("delta"), "en"),
        ("1", ts(2), "an unrelated survivor document text", "en"),
    ])
    emb = spark.createDataFrame(
        [(2, [0.5, 0.5]), (1, [0.5, 0.5]), (8, [0.0, 1.0])],
        "vec_id long, embedding array<float>")
    got = ledger_map(tiered_dedup(
        pages, DedupConfig(), emb=emb, emb_threshold=0.99,
        emb_kwargs={"n_tables": 4, "n_bits": 2}))
    assert got["8"] == ("near", "1")
    assert got["2"] == ("semantic", "1")
    assert got["1"] == ("kept", "1")


def test_dropped_docs_never_reach_later_tiers(spark, pages_factory):
    # Three exact copies + one near variant: exactly ONE of the copies may
    # sit in the near cluster (the exact winner); the two exact losers must
    # be labeled 'exact', not 'near'.
    pages = pages_factory([
        ("4", ts(0), long_text("eps"), "en"),
        ("2", ts(1), long_text("eps"), "en"),
        ("9", ts(2), long_text("eps"), "en"),
        ("5", ts(3), long_text("zeta"), "en"),
    ])
    got = ledger_map(tiered_dedup(pages, DedupConfig()))
    tiers = sorted(t for t, _ in got.values())
    assert tiers == ["exact", "exact", "kept", "near"]
    assert got["4"] == ("exact", "2")
    assert got["9"] == ("exact", "2")


def test_tier_stats_accounting(spark, tier_pages):
    row = tier_stats(tiered_dedup(tier_pages, DedupConfig())).collect()[0]
    assert row["n_docs"] == 6
    assert row["n_exact"] == 1 and row["n_near"] == 1
    assert row["n_semantic"] == 0
    assert row["n_kept"] == 4
    assert (row["n_exact"] + row["n_near"] + row["n_semantic"]
            + row["n_kept"]) == row["n_docs"]


def test_deterministic_across_partitionings(spark, tier_pages):
    a = sorted(map(tuple, tiered_dedup(
        tier_pages.repartition(1), DedupConfig()).collect()))
    b = sorted(map(tuple, tiered_dedup(
        tier_pages.repartition(7), DedupConfig()).collect()))
    assert a == b


def test_semantic_tier_with_string_vec_ids(spark, pages_factory):
    # vec_id may be the url itself (hyperplane_buckets mirrors the input
    # id type in its Arrow schema) — the path the scaling harness uses.
    pages = pages_factory([
        ("site/a", ts(0), "first unrelated survivor text body", "en"),
        ("site/b", ts(1), "second unrelated survivor text body two", "en"),
    ])
    emb = spark.createDataFrame(
        [("site/a", [1.0, 0.0]), ("site/b", [1.0, 0.0])],
        "vec_id string, embedding array<float>")
    got = ledger_map(tiered_dedup(
        pages, DedupConfig(), emb=emb, emb_threshold=0.99,
        emb_kwargs={"n_tables": 4, "n_bits": 2}))
    assert got["site/b"] == ("semantic", "site/a")
    assert got["site/a"] == ("kept", "site/a")


def test_cli_tiered_mode(spark, tier_pages, tmp_path, capsys):
    import json

    from pysparkdedup.cli import main

    inp = str(tmp_path / "in")
    emb_p = str(tmp_path / "emb")
    out = str(tmp_path / "ledger")
    tier_pages.write.parquet(inp)
    spark.createDataFrame(
        [(0, [1.0, 0.0]), (5, [1.0, 0.0])],
        "vec_id long, embedding array<float>").write.parquet(emb_p)
    rc = main([
        "--input", inp, "--mode", "tiered", "--embeddings", emb_p,
        "--emb-threshold", "0.99", "--output", out, "--master", "local[4]",
    ])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out)
    assert stats["N_DOCS"] == 6
    assert stats["N_EXACT"] == 1 and stats["N_NEAR"] == 1
    assert stats["N_SEMANTIC"] == 1 and stats["N_KEPT"] == 3
    got = {r["url"]: (r["tier"], r["kept_by"])
           for r in spark.read.parquet(out).collect()}
    assert got["5"] == ("semantic", "0")
    assert got["3"] == ("exact", "0")


def test_no_cartesian_in_plan(spark, tier_pages):
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        tiered_dedup(tier_pages, DedupConfig()).explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_skip_mode_requires_metadata_columns(spark, pages_factory):
    """content_hash_mode='skip' keys on (lang, warc_ts, first line): a bare
    (url, text) frame fails eagerly with the missing columns named, not
    with an unresolved-attribute AnalysisException at action time; a frame
    carrying the columns works and keys on the metadata tuple."""
    bare = spark.createDataFrame(
        [("a", "alpha beta"), ("b", "alpha beta")], "url string, text string")
    with pytest.raises(ValueError, match=r"lang.*warc_ts|warc_ts.*lang"):
        tiered_dedup(bare, DedupConfig(content_hash_mode="skip"))
    pages = pages_factory([
        ("a", ts(0), "Title\nbody one here", "en"),
        ("b", ts(0), "Title\nbody two here", "en"),   # same day+lang+title
        ("c", ts(0), "Other\nbody one here", "en"),   # different first line
    ])
    got = ledger_map(tiered_dedup(
        pages, DedupConfig(content_hash_mode="skip")))
    assert got["b"] == ("exact", "a")   # metadata tuple collides
    assert got["c"][0] == "kept"


def test_on_stage_hook_fires_in_tier_order(spark, tier_pages):
    """The instrumentation hook (bench.py's per-tier laps) sees each tier
    exactly once, in cascade order, and its presence does not change the
    ledger."""
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (5, [1.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>")
    kwargs = dict(emb=emb, emb_threshold=0.99,
                  emb_kwargs={"n_tables": 4, "n_bits": 2})
    seen = []
    with_hook = ledger_map(tiered_dedup(
        tier_pages, DedupConfig(), on_stage=seen.append, **kwargs))
    assert seen == ["exact", "near", "semantic"]
    without = ledger_map(tiered_dedup(tier_pages, DedupConfig(), **kwargs))
    assert with_hook == without


def test_cascade_job_count(spark, tier_pages):
    """Building the ledger runs the exact tier's checkpoint and the two
    clusterers, nothing else: the near and semantic loser maps are
    projections of already-materialized cluster frames, not copies."""
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (5, [1.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>")
    ledger, jobs = jobs_of(spark, lambda: tiered_dedup(
        tier_pages, DedupConfig(), emb=emb, emb_threshold=0.99,
        emb_kwargs={"n_tables": 4, "n_bits": 2}))
    assert jobs == 34
    assert ledger_map(ledger)["5"] == ("semantic", "0")
