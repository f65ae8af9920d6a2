"""Physical-plan quality gates: pushdown, pruning, broadcast — the
.explain()-level properties the engine relies on at scale."""

import io
import re
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from pysparkdedup.config import DedupConfig
from pysparkdedup.pipeline import run_exact

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_to_parquet(spark):
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    q = d.filter(F.col("lang") == "en").select("doc_id")
    plan = plan_of(q)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan


def test_column_pruning_to_scan(spark):
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    q = d.select("doc_id", "lang")
    plan = plan_of(q)
    # ReadSchema must not include the wide text column
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" not in read_schema


def test_pipeline_dehydrates_payload(spark, pages_factory):
    """The html payload must not travel through the dedup pipeline's
    shuffles (dehydration, ref mail.py:228-262)."""
    from tests.conftest import ts

    df = pages_factory([("u/a", ts(0), "hello text", "en")])
    final = run_exact(df, DedupConfig())
    assert "html" not in final.columns
    plan = plan_of(final.select("url", "status"))
    # html may appear in the source scan's output list, but must be gone
    # from every shuffle: no Exchange node's detail block mentions it.
    blocks = plan.split("\n\n")
    exchange_blocks = [b for b in blocks if b.startswith("(") and "Exchange" in b.splitlines()[0]]
    for b in exchange_blocks:
        assert "html" not in b, b


def test_exact_pipeline_no_cluster_key_window(spark, pages_factory):
    """No WindowExec partitioned by cluster_key anywhere in the exact
    pipeline: per-group decisions (guards, cascade, set_rep) must be
    two-phase groupBy + join-back (groupagg.with_group_stats), so a
    boilerplate mega-cluster is sharded by partial aggregation instead of
    sort-buffered in a single window task."""
    from tests.conftest import ts

    df = pages_factory([
        ("u/a", ts(0), "same text", "en"),
        ("u/b", ts(1), "same text", "en"),
    ])
    final = run_exact(df, DedupConfig(strategies=("select-newest",)))
    plan = plan_of(final.select("url", "status"))
    assert "Window" not in plan, plan
    # Every per-group aggregate must show a partial_ (map-side) phase.
    assert "partial_" in plan


def test_exact_pipeline_bounded_cluster_key_exchanges(spark, pages_factory):
    """The sharded tail still bounds its cluster_key shuffles: the stats
    branches each shuffle their (tiny, partially-aggregated) group rows, but
    the full-width spine must not proliferate exchanges."""
    from tests.conftest import ts

    df = pages_factory([
        ("u/a", ts(0), "same text", "en"),
        ("u/b", ts(1), "same text", "en"),
    ])
    final = run_exact(df, DedupConfig(strategies=("select-newest",)))
    plan = plan_of(final.select("url", "status"))
    n_exchanges = plan.count("Exchange hashpartitioning(cluster_key")
    assert n_exchanges <= 6, plan


def test_hot_bucket_broadcast(spark):
    """pairs.bucket_pairs must broadcast the (tiny) hot-key side."""
    from pysparkdedup.pairs import bucket_pairs

    df = spark.createDataFrame(
        [("k", f"u{i}") for i in range(10)], "bkey string, url string")
    plan = plan_of(bucket_pairs(df, ["bkey"], cap=3))
    assert "BroadcastExchange" in plan


def test_embedding_dup_edges_cold_single_fused_scorer(spark):
    """With every bucket under max_bucket, embedding_dup_edges scores all
    pairs in ONE fused mapInArrow node: no second Python scorer and no
    cosine_pairs_exact embedding join."""
    from pysparkdedup.cache import cache_scope
    from pysparkdedup.similarity import embedding_dup_edges

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    with cache_scope():
        plan = plan_of(embedding_dup_edges(emb, n_tables=6, n_bits=4))
    # The bucketing kernel is a MapInArrow node too (it reads the
    # embedding); every other MapInArrow node is a scorer, and there is one.
    inputs = [b.splitlines()[1] for b in plan.split("\n\n")
              if re.fullmatch(r"\(\d+\) MapInArrow", b.splitlines()[0])]
    assert sorted("embedding#" in i for i in inputs) == [False, True], plan
    assert "_pa" not in plan, plan


def test_minhash_edges_cold_single_fused_scorer(spark, pages_factory):
    """With every band bucket under max_bucket_size, minhash_edges pairs
    and scores every bucket in ONE fused mapInArrow node: no verify join of
    the signature onto candidate pairs and no interpreted zip_with score.
    dedup_against scores through the same pair-row kernel, so its plan
    carries no zip_with either."""
    from tests.conftest import ts

    from pysparkdedup.cache import cache_scope
    from pysparkdedup.checkpoint import compute_signatures
    from pysparkdedup.crosscorpus import dedup_against
    from pysparkdedup.minhash import minhash_edges

    cfg = DedupConfig()
    text = " ".join(f"w{i}" for i in range(30))
    pages = pages_factory([("u/a", ts(0), text, "en"),
                           ("u/b", ts(1), text, "en")])
    with cache_scope():
        plan = plan_of(minhash_edges(pages, cfg))
    # The signature kernel is a MapInArrow node too (it reads the text);
    # every other MapInArrow node is a scorer, and there is one.
    inputs = [b.splitlines()[1] for b in plan.split("\n\n")
              if re.fullmatch(r"\(\d+\) MapInArrow", b.splitlines()[0])]
    assert sorted("text#" in i for i in inputs) == [False, True], plan
    for verify in ("_sig_a", "_sig_b", "_pa", "zip_with"):
        assert verify not in plan, (verify, plan)

    old = pages_factory([("old/a", ts(0), text, "en")])
    new = pages_factory([("new/a", ts(1), text + " x", "en")])
    plan = plan_of(dedup_against(new, compute_signatures(old, cfg), cfg))
    assert "zip_with" not in plan, plan


def test_compute_signatures_single_token_kernel(spark, pages_factory):
    """compute_signatures tokenizes once for both signature families: one
    mapInArrow over the keyed projection, and no Python UDF, shuffle or
    join-back of per-family results by url."""
    from tests.conftest import ts

    from pysparkdedup.checkpoint import compute_signatures

    pages = pages_factory([("u/a", ts(0), "alpha beta gamma delta eps", "en")])
    plan = plan_of(compute_signatures(pages, DedupConfig()))
    tree = plan.split("\n\n")[0]
    assert tree.count("MapInArrow") == 1, plan
    for node in ("MapInPandas", "Exchange", "Join"):
        assert node not in tree, (node, plan)


def test_containment_no_cartesian(spark, pages_factory):
    """containment_edges candidates come from the anchor equi-join — the plan
    must contain no cartesian/nested-loop join in either verify mode."""
    from pysparkdedup.suffix import containment_edges
    from tests.conftest import ts

    df = pages_factory([
        ("u/a", ts(0), "alpha beta gamma delta epsilon", "en"),
        ("u/b", ts(1), "zero alpha beta gamma delta epsilon omega", "en"),
    ])
    for mode in ("raw", "token"):
        plan = plan_of(containment_edges(df, DedupConfig(), verify=mode))
        assert "CartesianProduct" not in plan, mode
        assert "BroadcastNestedLoopJoin" not in plan, mode


def test_ngram_posting_join_is_hash_join(spark, pages_factory):
    """jaccard_edges' inverted-index self-join must be a shuffle/broadcast
    hash equi-join on the shingle key, never a nested loop."""
    from pysparkdedup.ngram import jaccard_edges
    from tests.conftest import ts

    df = pages_factory([
        ("u/a", ts(0), "one two three four five six", "en"),
        ("u/b", ts(1), "one two three four five seven", "en"),
    ])
    plan = plan_of(jaccard_edges(df, k=5, threshold=0.5))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_candidate_join_is_equi_join(spark):
    """ivf_topk's list_id candidate join and cosine re-rank joins must be
    hash equi-joins — no cartesian/nested loop anywhere in the ANN plan."""
    from pysparkdedup.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    plan = plan_of(ivf_topk(emb, q, k=3, n_list=8, nprobe=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_repetition_stats_is_shuffle_free(spark, pages_factory):
    """repetition_stats is per-document column algebra — its claim is ZERO
    shuffles (no Exchange in the plan): scan -> project, nothing else."""
    from pysparkdedup.repetition import repetition_stats

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(repetition_stats(d, n=2))
    assert "Exchange" not in plan


def test_cross_corpus_no_cartesian(spark, pages_factory):
    """dedup_against must stay equi-join shaped end to end — no
    CartesianProduct / BroadcastNestedLoopJoin anywhere."""
    from tests.conftest import ts

    from pysparkdedup.checkpoint import compute_signatures
    from pysparkdedup.crosscorpus import dedup_against

    cfg = DedupConfig()
    old = pages_factory([
        ("old/a", ts(0), " ".join(f"w{i}" for i in range(30)), "en")])
    new = pages_factory([
        ("new/a", ts(1), " ".join(f"v{i}" for i in range(30)), "en")])
    plan = plan_of(dedup_against(new, compute_signatures(old, cfg), cfg))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cross_corpus_warm_path_no_old_side_aggregation(spark,
                                                        pages_factory,
                                                        tmp_path):
    """With the checkpoint's persisted dims (cross_dims=True commit), the
    dedup_against plan must contain NO aggregation keyed on content_hash or
    (band_id, band_hash): the exact dim, band projection and bucket stats
    all come precomputed, so the old side is only ever equi-join probed.
    The cold path (no dims) must show those aggregations — proving the
    gate actually distinguishes the two plans."""
    from tests.conftest import ts

    from pysparkdedup.checkpoint import (
        SignatureCheckpoint, signatures_with_checkpoint)
    from pysparkdedup.crosscorpus import dedup_against

    cfg = DedupConfig()
    old = pages_factory([
        ("old/a", ts(0), " ".join(f"w{i}" for i in range(30)), "en")])
    new = pages_factory([
        ("new/a", ts(1), " ".join(f"v{i}" for i in range(30)), "en")])
    path = str(tmp_path / "ckpt")
    old_sigs = signatures_with_checkpoint(old, cfg, path, cross_dims=True)
    dims = SignatureCheckpoint(path).load_cross_dims(spark, cfg)

    def agg_blocks(df):
        blocks = plan_of(df).split("\n\n")
        return [b for b in blocks
                if b.startswith("(") and "Aggregate" in b.splitlines()[0]]

    cold = agg_blocks(dedup_against(new, old_sigs, cfg))
    assert any("content_hash" in b and "min" in b for b in cold)
    assert any("band_hash" in b for b in cold)

    warm = agg_blocks(dedup_against(new, old_sigs, cfg, old_dims=dims))
    for b in warm:
        assert "content_hash" not in b, b
        assert "band_hash" not in b, b


def test_keep_first_dedup_dehydrates_lines(spark):
    """dedup_lines_keep_first: only the (id, pos, line) projection may ride
    a shuffle — the caller's other columns (the wide payload in production)
    must not appear in any Exchange block."""
    from pysparkdedup.repetition import dedup_lines_keep_first

    d = spark.createDataFrame(
        [(1, ["a", "b"], "WIDE_PAYLOAD"), (2, ["b", "c"], "WIDE_PAYLOAD")],
        "doc_id long, lines array<string>, payload string")
    out = dedup_lines_keep_first(d.select("doc_id", "lines"))
    plan = plan_of(out)
    blocks = plan.split("\n\n")
    exchange_blocks = [b for b in blocks
                       if b.startswith("(") and "Exchange" in b.splitlines()[0]]
    assert exchange_blocks  # the winner agg does shuffle the projection
    for b in exchange_blocks:
        assert "payload" not in b, b


def test_vocab_topk_no_global_sort(spark):
    """vocab_topk's top-k must plan as TakeOrderedAndProject (per-task
    k-heaps), never a full Sort of the token counts."""
    from pysparkdedup.textstats import vocab_topk

    d = spark.createDataFrame([(1, "a b c a")], "doc_id long, text string")
    plan = plan_of(vocab_topk(d, k=5))
    assert "TakeOrderedAndProject" in plan


# ---------------------------------------------------------------------------
# Unpartitioned-window gate (round 7): an unpartitioned WindowExec moves ALL
# its input through one task — correct but a monster straggler if the input
# is a corpus-scale frame. The suite's only legitimate uses sit above a
# limit node (k-row frames: vocab_topk's rank over TakeOrderedAndProject).
# The pytest log's WindowExec single-partition warning would mask a real
# regression, so gate it structurally on the headline verbs' plans.
# ---------------------------------------------------------------------------

_LIMIT_NODES = ("TakeOrderedAndProject", "GlobalLimit", "CollectLimit",
                "LocalLimit")


def _top_level_bracket_groups(s: str) -> int:
    groups, depth = 0, 0
    for ch in s:
        if ch == "[":
            if depth == 0:
                groups += 1
            depth += 1
        elif ch == "]":
            depth -= 1
    return groups


def unpartitioned_windows_above_nonlimit(plan: str) -> list[str]:
    """Node ids of Window operators with NO partition spec whose subtree
    contains no limit node. Partitioned windows show three top-level bracket
    groups in the detail block's Arguments ([functions], [partition],
    [order]); unpartitioned show two."""
    import re

    bad_ids = set()
    for block in plan.split("\n\n"):
        lines = block.strip().splitlines()
        if not lines:
            continue
        m = re.match(r"\((\d+)\) Window\b", lines[0].strip())
        if not m:
            continue
        args = next((ln for ln in lines if ln.startswith("Arguments: ")), "")
        if _top_level_bracket_groups(args[len("Arguments: "):]) == 2:
            bad_ids.add(m.group(1))
    if not bad_ids:
        return []
    node_re = re.compile(r"^([\s:+*-]*)(\w[\w.$ ]*?) \((\d+)\)\s*$")
    entries = []
    for line in plan.splitlines():
        if line.lstrip().startswith("("):
            continue  # detail-block header, not a tree line
        m = node_re.match(line)
        if m:
            entries.append((len(m.group(1)), m.group(2).strip(), m.group(3)))
    violations = []
    for i, (ind, name, nid) in enumerate(entries):
        if nid not in bad_ids or name != "Window":
            continue
        sub = []
        for ind2, name2, _nid2 in entries[i + 1:]:
            if ind2 <= ind:
                break
            sub.append(name2)
        if not any(n.startswith(_LIMIT_NODES) for n in sub):
            violations.append(nid)
    return violations


def test_window_gate_parser_distinguishes_the_three_shapes(spark):
    """Self-test of the gate on known-good/known-bad plans so a Spark
    explain-format change fails loudly here, not silently in the gate."""
    from pyspark.sql.window import Window

    d = spark.range(100).withColumn("g", F.col("id") % 5)
    ok_part = d.withColumn(
        "rn", F.row_number().over(Window.partitionBy("g").orderBy("id")))
    assert unpartitioned_windows_above_nonlimit(plan_of(ok_part)) == []
    bad = d.withColumn("rn", F.row_number().over(Window.orderBy("id")))
    assert len(unpartitioned_windows_above_nonlimit(plan_of(bad))) == 1
    ok_limited = (d.orderBy(F.col("id").desc()).limit(5)
                  .withColumn("rn", F.row_number().over(Window.orderBy("id"))))
    assert unpartitioned_windows_above_nonlimit(plan_of(ok_limited)) == []


def test_no_unpartitioned_window_in_headline_verbs(spark, pages_factory):
    """The bench headline verbs must never put an unpartitioned window over
    a data-scale frame. vocab_topk is the deliberate exempt case (rank over
    the k-row TakeOrderedAndProject output) and must stay exempt, not
    absent — the gate checks both directions."""
    from tests.conftest import ts

    from pysparkdedup.crosscorpus import dedup_against
    from pysparkdedup.checkpoint import compute_signatures
    from pysparkdedup.curate import curate_pages
    from pysparkdedup.minhash import minhash_clusters
    from pysparkdedup.ngram import jaccard_edges
    from pysparkdedup.repetition import (
        dedup_lines_keep_first, drop_boilerplate_lines, with_chunk_lines,
    )
    from pysparkdedup.simhash import simhash_clusters
    from pysparkdedup.strategy import apply_cascade
    from pysparkdedup.textstats import vocab_topk

    cfg = DedupConfig(strategies=("select-newest", "select-one"))
    pages = pages_factory([
        ("u/a", ts(0), "alpha beta gamma delta", "en"),
        ("u/b", ts(1), "alpha beta gamma delta", "en"),
        ("u/c", ts(2), "epsilon zeta eta theta", "en"),
    ])
    lined = with_chunk_lines(
        pages.select(F.col("url").alias("doc_id"), "text"), 10
    ).select("doc_id", "lines")
    old = pages.filter(F.crc32("url") % 2 == 0)
    new = pages.filter(F.crc32("url") % 2 == 1)
    frames = {
        "exact_pipeline": run_exact(pages, cfg),
        "minhash_clusters": minhash_clusters(pages, cfg),
        "simhash_clusters": simhash_clusters(pages, cfg),
        "ngram_jaccard": jaccard_edges(pages, k=2, threshold=0.5),
        "cascade": apply_cascade(
            pages.withColumn("cluster_key", F.lit("k"))
            .withColumn("n_bytes", F.length("text")), cfg),
        "curation": curate_pages(pages, max_dup_gram_frac=0.5,
                                 boilerplate_min_df=2,
                                 dedup_paragraphs=True, id_col="url"),
        "boilerplate": drop_boilerplate_lines(lined, min_df=2),
        "keep_first": dedup_lines_keep_first(lined),
        "cross_corpus": dedup_against(new, compute_signatures(old, cfg), cfg),
    }
    for name, df in frames.items():
        assert unpartitioned_windows_above_nonlimit(plan_of(df)) == [], name
    # the exempt shape must still be present AND exempt
    topk_plan = plan_of(vocab_topk(pages, k=5))
    assert "Window" in topk_plan
    assert unpartitioned_windows_above_nonlimit(topk_plan) == []


@pytest.mark.parametrize("line_stages", [{}, {"boilerplate_min_df": 2}],
                         ids=["text", "line_section"])
def test_curate_redacts_once_under_drop_empty(spark, pages_factory,
                                              line_stages):
    """drop_empty must not inline the PII chain (or the line rebuild) into
    a pushed-down filter: the optimized plan names each PII regex once."""
    from tests.conftest import ts
    from pysparkdedup.curate import curate_pages
    from pysparkdedup.pii import PII_PATTERNS

    pages = pages_factory([
        ("u/a", ts(0), "mail a@b.org now", "en"),
        ("u/b", ts(1), "   ", "en"),
    ])
    out = curate_pages(pages, redact=True, drop_empty=True, **line_stages)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    for kind, pattern in PII_PATTERNS.items():
        assert plan.count(pattern) == 1, (kind, plan.count(pattern))


def _chunk_pages(pages_factory):
    from tests.conftest import ts

    return pages_factory([
        ("u/a", ts(0), "alpha beta gamma delta", "en"),
        ("u/b", ts(1), "alpha beta\ngamma delta", "en"),
    ])


@pytest.mark.parametrize("line_mode", ["chunk", "auto"])
def test_chunk_mode_plan_has_no_lambda_chunker(spark, pages_factory,
                                               line_mode):
    """Pseudo-lines come from two JVM regexes (regexp_replace, then
    regexp_extract_all), not from a transform over sequence() slices."""
    from pysparkdedup.curate import curate_pages

    out = curate_pages(_chunk_pages(pages_factory), boilerplate_min_df=2,
                       line_mode=line_mode)
    plan = plan_of(out)
    assert "regexp_extract_all(" in plan
    for lam in ("sequence(", "slice(", "transform("):
        assert lam not in plan, lam


def _hash_keys(plan: str) -> list[list[str]]:
    """The key columns of every hash-partitioned Exchange, ids stripped."""
    return [[re.sub(r"#\d+", "", k).strip() for k in m.split(",")[:-1]]
            for m in re.findall(r"Arguments: hashpartitioning\(([^)]*)\)",
                                plan)]


def test_boilerplate_df_dim_shuffles_only_on_the_line(spark, pages_factory):
    """The boilerplate document frequency counts each document's distinct
    lines, exploded from its own row, with one partially aggregated
    group-by: no Exchange on (id, line) ahead of the line exchange. The
    two line exchanges are the dim's and the hit join's probe side."""
    from pysparkdedup.curate import curate_pages
    from pysparkdedup.repetition import drop_boilerplate_lines, with_chunk_lines

    pages = _chunk_pages(pages_factory)
    lined = with_chunk_lines(
        pages.select(F.col("url").alias("doc_id"), "text"), 2
    ).select("doc_id", "lines")
    for id_col, out in (
            ("doc_id", drop_boilerplate_lines(lined, min_df=2)),
            ("url", curate_pages(pages, boilerplate_min_df=2,
                                 tokens_per_line=2))):
        keys = _hash_keys(plan_of(out))
        assert [id_col, "line"] not in keys, keys
        assert keys.count(["line"]) == 2, keys
