"""Threshold guards + eviction tests (ref tests/test_strategy.py:541-644)."""

from pyspark.sql import functions as F

from pysparkdedup.config import DedupConfig
from pysparkdedup.pipeline import in_selection, run_exact
from tests.conftest import ts


def by_status(final):
    return {r["url"]: r["status"] for r in final.select("url", "status").collect()}


def test_outlier_evicted_core_deduplicated(pages_factory):
    """3 copies + 1 whitespace-bloated outlier: outlier evicted, core
    deduplicated (ref tests/test_strategy.py:541-564, deduplicate.py:304-359)."""
    rows = [
        ("u/a", ts(0), "line one\nsame body", "en"),
        ("u/b", ts(1), "line one\nsame body", "en"),
        ("u/c", ts(2), "line one\nsame body", "en"),
        ("u/outlier", ts(3), "line one" + " " * 2000 + "\nsame body", "en"),
    ]
    cfg = DedupConfig(strategies=("select-newest",))
    final = run_exact(pages_factory(rows), cfg)
    st = by_status(final)
    assert st["u/outlier"] == "skipped"
    # newest of the remaining core is u/c
    assert st["u/c"] == "selected"
    assert st["u/a"] == st["u/b"] == "discarded"


def test_dissimilar_pair_skips_whole_set(pages_factory):
    """2 rows breaching the size threshold: fewer than 2 would remain =>
    whole set skipped as skipped_size (ref tests/test_strategy.py:567-578)."""
    rows = [
        ("u/a", ts(0), "word\nbody", "en"),
        ("u/b", ts(1), "word" + " " * 3000 + "\nbody", "en"),
    ]
    cfg = DedupConfig(strategies=("select-newest",))
    final = run_exact(pages_factory(rows), cfg)
    st = by_status(final)
    assert st == {"u/a": "skipped", "u/b": "skipped"}
    kinds = {r["set_outcome"] for r in final.filter(F.col("set_rep")).collect()}
    assert kinds == {"skipped_size"}


def test_thresholds_disabled_skips_guards(pages_factory):
    """-1/-1 disables both checks: the bloated member is just the biggest
    (ref tests/test_strategy.py:606-644)."""
    rows = [
        ("u/a", ts(0), "word\nbody", "en"),
        ("u/b", ts(1), "word" + " " * 3000 + "\nbody", "en"),
    ]
    cfg = DedupConfig(
        strategies=("select-smallest",), size_threshold=-1, content_threshold=-1
    )
    final = run_exact(pages_factory(rows), cfg)
    kept = final.filter(in_selection()).collect()
    assert {r["url"] for r in kept} == {"u/a"}


def test_content_threshold_eviction(pages_factory):
    """Content-differing member (same normalized hash impossible here — use
    raw mode): big unified diff => offense => eviction."""
    base = "\n".join(f"line {i} common words here" for i in range(40))
    variant = base + "\n" + "extra " * 300  # ~1800 chars of new content
    rows = [
        ("u/a", ts(0), base, "en"),
        ("u/b", ts(1), base, "en"),
        ("u/c", ts(2), base, "en"),
    ]
    # Give the outlier the same *normalized* hash is impossible with real new
    # content, so emulate the reference's header-hash grouping by running the
    # clustered tail with an explicit cluster map.
    from pysparkdedup.pipeline import run_clustered

    rows.append(("u/outlier", ts(3), variant, "en"))
    pages = pages_factory(rows)
    spark = pages.sparkSession
    clusters = spark.createDataFrame(
        [(r[0], "C1") for r in rows], "url string, cluster_key string"
    )
    cfg = DedupConfig(strategies=("select-newest",), size_threshold=-1)
    final = run_clustered(pages, cfg, clusters)
    st = by_status(final)
    assert st["u/outlier"] == "skipped"
    assert st["u/c"] == "selected"


def test_oversized_offender_cluster_skips_whole_not_truncates(pages_factory):
    """A guard-FAILING cluster larger than max_eviction_group must be
    skip-accounted whole: every member evicted=False + guard_skip_kind set
    ('size' when the spread breached, 'content' otherwise) — never a
    truncated/partial eviction."""
    from pysparkdedup.guards import apply_guards
    from pysparkdedup.normalize import raw_text_hash
    from pyspark.sql import functions as F

    def guarded(rows, cfg):
        df = pages_factory(rows).select(
            "url", "text",
            F.length("text").alias("n_bytes"),
            raw_text_hash(F.col("text")).alias("raw_hash"),
            F.lit("k").alias("cluster_key"),
        )
        return {r["url"]: r.asDict()
                for r in apply_guards(df, cfg).collect()}

    # size-offending: one bloated member in a 12-doc cluster, bound 8
    rows = [(f"u/{i:02d}", ts(i), "same body text", "en") for i in range(11)]
    rows.append(("u/bloat", ts(11), "same body" + " " * 3000, "en"))
    cfg = DedupConfig(strategies=("select-newest",), max_eviction_group=8)
    got = guarded(rows, cfg)
    assert len(got) == 12
    assert all(not v["evicted"] for v in got.values())
    assert {v["guard_skip_kind"] for v in got.values()} == {"size"}

    # content-only offense (sizes equal, texts differ) -> kind 'content'
    rows = [(f"u/{i:02d}", ts(i), f"l{i % 2}\n" + "x" * 100, "en")
            for i in range(12)]
    cfg = DedupConfig(strategies=("select-newest",), size_threshold=-1,
                      content_threshold=0, max_eviction_group=8)
    got = guarded(rows, cfg)
    assert all(not v["evicted"] for v in got.values())
    assert {v["guard_skip_kind"] for v in got.values()} == {"content"}

    # same offending cluster UNDER the bound: eviction actually runs
    cfg = DedupConfig(strategies=("select-newest",), size_threshold=-1,
                      content_threshold=0, max_eviction_group=100)
    got = guarded(rows, cfg)
    assert any(v["evicted"] for v in got.values())


def test_oversized_offender_cluster_stats_invariants(pages_factory):
    """The whole pipeline over a planted oversized offender cluster: all
    members labeled 'skipped', set_outcome 'skipped_size', and the 15
    global stats invariants hold (skip accounting adds up)."""
    from pysparkdedup.stats import check_stats, compute_stats

    rows = [(f"u/{i:02d}", ts(i), "same body text", "en") for i in range(11)]
    # whitespace bloat: identical normalized hash (same cluster), huge size
    rows.append(("u/bloat", ts(11), "same body" + " " * 3000 + " text", "en"))
    rows.append(("u/solo", ts(20), "an unrelated unique document", "en"))
    cfg = DedupConfig(strategies=("select-newest",), max_eviction_group=8)
    final = run_exact(pages_factory(rows), cfg)
    st = by_status(final)
    assert st["u/solo"] == "unique"
    assert all(st[u] == "skipped" for u in st if u != "u/solo")
    kinds = {r["set_outcome"]
             for r in final.filter(F.col("set_rep")
                                   & (F.col("status") == "skipped")).collect()}
    assert kinds == {"skipped_size"}
    check_stats(compute_stats(final))


def test_singleton_never_enters_guards(pages_factory):
    rows = [("u/solo", ts(0), "alone text", "en")]
    cfg = DedupConfig(strategies=("select-newest",))
    final = run_exact(pages_factory(rows), cfg)
    assert by_status(final) == {"u/solo": "unique"}


def test_malformed_rejected_not_crashed(pages_factory):
    rows = [
        ("u/empty", ts(0), "", "en"),
        ("u/null", ts(0), None, "en"),
        ("u/ok", ts(0), "fine text", "en"),
    ]
    cfg = DedupConfig(strategies=("select-newest",))
    final = run_exact(pages_factory(rows), cfg)
    st = by_status(final)
    assert st["u/empty"] == "rejected"
    assert st["u/null"] == "rejected"
    assert st["u/ok"] == "unique"


def test_one_body_gate_is_constant_memory(pages_factory):
    """The single-body short-circuit must not materialize per-group distinct
    sets (VERDICT r1 #2): min==max over the window, no collect_set in the
    plan — O(1) window state even for a mega-cluster of distinct raw bodies."""
    from pysparkdedup.exact import annotate, with_cluster_key
    from pysparkdedup.guards import apply_guards

    rows = [(f"u/{i}", ts(i), f"same same {' ' * (i % 3)}body", "en")
            for i in range(30)]
    ann = with_cluster_key(annotate(pages_factory(rows), DedupConfig()))
    guarded = apply_guards(ann, DedupConfig())
    plan = guarded._jdf.queryExecution().analyzed().toString()
    assert "collect_set" not in plan
    # Whitespace variants share the normalized key but have distinct raw
    # hashes => the short-circuit fails => eviction path decides (all within
    # thresholds => nobody evicted).
    out = guarded.collect()
    assert all(not r["evicted"] for r in out)


def test_fused_set_stats_match_standalone_passes(pages_factory):
    """The r8 shared-aggregation plumbing (apply_guards(group_stats=...) +
    label_outcomes(rep_stats=...)) must produce byte-identical final
    frames to the standalone per-stage aggregations."""
    from pysparkdedup.exact import annotate, with_cluster_key
    from pysparkdedup.guards import apply_guards
    from pysparkdedup.pipeline import label_outcomes
    from pysparkdedup.strategy import apply_cascade

    rows = []
    for i in range(40):
        body = f"cluster {i % 7} body" + ("X" * (2000 * (i % 3)))
        rows.append((f"u{i:03d}", ts(i), body, None))
    pages = pages_factory(rows)
    cfg = DedupConfig(strategies=("select-newest", "select-one"))

    def tail(ann, fused: bool):
        if fused:
            from pysparkdedup.guards import guard_group_aggs

            stats = ann.groupBy("cluster_key").agg(
                *guard_group_aggs(cfg),
                F.min(F.when(~F.col("rejected"), F.col("url")))
                .alias("_rep_url"))
            guarded = apply_guards(ann, cfg,
                                   group_stats=stats.drop("_rep_url"))
        else:
            guarded = apply_guards(ann, cfg)
        participates = (~F.col("rejected") & ~F.col("evicted")
                        & F.col("guard_skip_kind").isNull())
        cascaded = apply_cascade(guarded, cfg, ts_col=cfg.ts_col,
                                 participates=participates)
        rep = (stats.select("cluster_key", "_rep_url") if fused else None)
        out = label_outcomes(cascaded, rep_stats=rep)
        cols = ["url", "status", "set_outcome", "set_rep",
                "applied_strategy", "evicted", "guard_skip_kind"]
        return sorted(tuple(r[c] for c in cols)
                      for r in out.select(*cols).collect())

    ann = with_cluster_key(annotate(pages, cfg)).drop("html")
    assert tail(ann, fused=True) == tail(ann, fused=False)
