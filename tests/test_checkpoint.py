"""Checkpoint/resume tests — the reference's cache invalidation matrix
(ref tests/test_cache.py:52-414) translated to the signature checkpoint."""

import dataclasses
import os

import pytest
from pyspark.sql import functions as F

from pysparkdedup.checkpoint import (
    SignatureCheckpoint, compute_signatures, signatures_with_checkpoint,
)
from pysparkdedup.config import DedupConfig
from tests.conftest import ts


@pytest.fixture()
def pages(pages_factory):
    return pages_factory([
        ("u/a", ts(0), " ".join(f"w{i}" for i in range(30)), "en"),
        ("u/b", ts(1), " ".join(f"v{i}" for i in range(30)), "en"),
        ("u/c", ts(2), " ".join(f"x{i}" for i in range(30)), "en"),
    ])


def sig_map(df):
    return {r["url"]: (r["content_hash"], tuple(r["minhash"] or []), r["simhash"])
            for r in df.collect()}


def test_cold_then_warm_identical(pages, tmp_path):
    cfg = DedupConfig()
    path = str(tmp_path / "ckpt")
    first = sig_map(signatures_with_checkpoint(pages, cfg, path))
    warm = sig_map(signatures_with_checkpoint(pages, cfg, path))
    assert first == warm
    assert set(first) == {"u/a", "u/b", "u/c"}


def test_warm_restores_without_recompute(pages, tmp_path, monkeypatch):
    """Untouched rows are restored, not re-signed (ref tests/test_cache.py:301)."""
    cfg = DedupConfig()
    path = str(tmp_path / "ckpt")
    signatures_with_checkpoint(pages, cfg, path)

    calls = []
    import pysparkdedup.checkpoint as cp
    real = cp.compute_signatures

    def spy(df, c):
        calls.append(df.count())
        return real(df, c)

    monkeypatch.setattr(cp, "compute_signatures", spy)
    signatures_with_checkpoint(pages, cfg, path)
    assert calls == [0]  # anti-join produced zero rows to recompute


def test_config_change_wipes(pages, tmp_path):
    """Settings fingerprint mismatch invalidates everything
    (ref tests/test_cache.py:147)."""
    path = str(tmp_path / "ckpt")
    cfg1 = DedupConfig()
    signatures_with_checkpoint(pages, cfg1, path)
    cfg2 = dataclasses.replace(cfg1, shingle_size=7)
    ckpt = SignatureCheckpoint(path)
    assert ckpt.load(pages.sparkSession, cfg2) is None
    # and a run under cfg2 re-signs everything + commits the new fingerprint
    out = signatures_with_checkpoint(pages, cfg2, path)
    assert out.count() == 3
    assert ckpt.read_manifest()["fingerprint"] == cfg2.signature_fingerprint()


def test_changed_row_resigned_vanished_pruned(pages_factory, tmp_path):
    """Modified row re-signed (stale key), vanished row pruned on commit
    (ref tests/test_cache.py:169, :323)."""
    cfg = DedupConfig()
    path = str(tmp_path / "ckpt")
    v1 = pages_factory([
        ("u/a", ts(0), "alpha " * 30, "en"),
        ("u/b", ts(1), "beta " * 30, "en"),
    ])
    first = sig_map(signatures_with_checkpoint(v1, cfg, path))

    v2 = pages_factory([
        ("u/a", ts(0), "alpha " * 31, "en"),  # changed text length
        # u/b vanished
        ("u/c", ts(2), "gamma " * 30, "en"),  # new
    ])
    second = sig_map(signatures_with_checkpoint(v2, cfg, path))
    assert set(second) == {"u/a", "u/c"}
    assert second["u/a"] != first["u/a"]

    ckpt = SignatureCheckpoint(path)
    stored = ckpt.load(v2.sparkSession, cfg)
    assert {r["url"] for r in stored.select("url").collect()} == {"u/a", "u/c"}


def test_resume_equals_fresh(pages, tmp_path):
    """Kill-after-signature-stage resume: warm signatures == cold signatures
    (BASELINE.md resume criterion)."""
    cfg = DedupConfig()
    path = str(tmp_path / "ckpt")
    cold = sig_map(compute_signatures(pages, cfg))
    signatures_with_checkpoint(pages, cfg, path)  # simulate first (killed) run
    resumed = sig_map(signatures_with_checkpoint(pages, cfg, path))
    assert resumed == cold


def test_fused_signatures_equal_single_family_paths(pages_factory):
    """compute_signatures signs MinHash and SimHash in one token kernel;
    row for row it equals minhash_signatures and simhash_signatures, nulls
    included (a doc too short to shingle, a doc with no token, a null
    text)."""
    from pysparkdedup.minhash import minhash_signatures
    from pysparkdedup.simhash import simhash_signatures

    cfg = DedupConfig()
    pages = pages_factory([
        ("u/a", ts(0), " ".join(f"w{i}" for i in range(30)), "en"),
        ("u/b", ts(1), "too short", "en"),
        ("u/c", ts(2), " ... ", "en"),
        ("u/d", ts(3), None, "en"),
    ])
    fused = {r["url"]: (r["minhash"], r["simhash"])
             for r in compute_signatures(pages, cfg).collect()}
    mh = {r["url"]: r["minhash"]
          for r in minhash_signatures(pages, cfg).collect()}
    sh = {r["url"]: r["simhash"] for r in simhash_signatures(pages).collect()}
    assert fused == {u: (mh[u], sh[u]) for u in mh}
    assert set(fused) == {"u/a", "u/b", "u/c", "u/d"}
    assert fused["u/a"][0] is not None and fused["u/b"][0] is None
    assert fused["u/b"][1] is not None and fused["u/c"][1] is None
    assert fused["u/d"] == (None, None)


def test_incremental_run_equals_fresh(spark, tmp_path):
    """run_incremental (checkpoint-backed) == fresh run, cold and warm."""
    from pysparkdedup.corpus import pages_and_truth
    from pysparkdedup.minhash import minhash_clusters
    from pysparkdedup.pipeline import run_clustered, run_incremental

    cfg = DedupConfig(strategies=("select-newest", "select-one"))
    pages, _ = pages_and_truth(spark, 400)
    path = str(tmp_path / "ckpt")

    def snap(final):
        return sorted(
            (r["url"], r["status"])
            for r in final.select("url", "status").collect())

    fresh = snap(run_clustered(pages, cfg, minhash_clusters(pages, cfg)))
    cold = snap(run_incremental(pages, cfg, path))
    warm = snap(run_incremental(pages, cfg, path))  # restored from checkpoint
    assert cold == fresh
    assert warm == fresh


def test_same_length_edit_invalidates_stale_key(spark):
    """A text edit that preserves length and warc_ts must still change the
    stale key (ADVICE r1: warc_ts is a data column, not an OS mtime)."""
    from pysparkdedup.checkpoint import stale_key_col
    from tests.conftest import make_pages, ts

    a = make_pages(spark, [("u/x", ts(0), "aaaa bbbb cccc", "en")])
    b = make_pages(spark, [("u/x", ts(0), "aaaa XXXX cccc", "en")])
    ka = a.select(stale_key_col().alias("k")).first()["k"]
    kb = b.select(stale_key_col().alias("k")).first()["k"]
    assert ka != kb


def test_full_stale_key_catches_interior_edit(spark):
    """The cheap key's documented blind spot — an interior same-length edit
    with untouched 64-char edges — is closed by the opt-in full-text key
    (cfg.stale_key_full, verdict r2 #10)."""
    from pysparkdedup.checkpoint import stale_key_col
    from tests.conftest import make_pages, ts

    pad = "x" * 64
    a = make_pages(spark, [("u/x", ts(0), pad + " middle aaa " + pad, "en")])
    b = make_pages(spark, [("u/x", ts(0), pad + " middle bbb " + pad, "en")])
    cheap = [d.select(stale_key_col().alias("k")).first()["k"] for d in (a, b)]
    full = [d.select(stale_key_col(full=True).alias("k")).first()["k"]
            for d in (a, b)]
    assert cheap[0] == cheap[1]  # the documented residual risk
    assert full[0] != full[1]    # closed by full=True


def test_stale_key_mode_changes_fingerprint():
    """Switching stale-key semantics (full flag, or a formula version bump)
    must wipe the checkpoint via the settings fingerprint — never a silent
    full re-sign where every (url, stale_key) join key misses (advice r2)."""
    from pysparkdedup.config import DedupConfig

    assert (DedupConfig().signature_fingerprint()
            != DedupConfig(stale_key_full=True).signature_fingerprint())


def test_incremental_simhash_equals_fresh(spark, tmp_path):
    """run_incremental(mode='simhash') reuses checkpointed simhash signatures
    and matches a fresh simhash-clustered run, cold and warm."""
    from pysparkdedup.corpus import pages_and_truth
    from pysparkdedup.pipeline import run_clustered, run_incremental
    from pysparkdedup.simhash import simhash_clusters

    cfg = DedupConfig(strategies=("select-newest", "select-one"))
    pages, _ = pages_and_truth(spark, 400)
    path = str(tmp_path / "ckpt")

    def snap(final):
        return sorted(
            (r["url"], r["status"])
            for r in final.select("url", "status").collect())

    fresh = snap(run_clustered(pages, cfg, simhash_clusters(pages, cfg)))
    cold = snap(run_incremental(pages, cfg, path, mode="simhash"))
    warm = snap(run_incremental(pages, cfg, path, mode="simhash"))
    assert cold == fresh
    assert warm == fresh


def test_committed_return_frame_reads_checkpoint_path(pages, tmp_path):
    """Durable return path (verdict r2 #4): after commit, the returned frame's
    plan scans the committed parquet — not localCheckpoint blocks that die
    with a lost executor."""
    cfg = DedupConfig()
    path = str(tmp_path / "ckpt")
    out = signatures_with_checkpoint(pages, cfg, path)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "parquet" in plan.lower()  # a scan, not localCheckpoint blocks
    files = out.inputFiles()
    manifest = SignatureCheckpoint(path).read_manifest()
    # every scanned file lives in the manifest-referenced committed data dir
    assert files and all(f"ckpt/{manifest['data']}/" in f for f in files)
    assert len(sig_map(out)) == 3


def test_concurrent_commit_contention(pages, tmp_path):
    """Two writers cannot interleave a commit (verdict r2 #7): the loser
    raises instead of silently last-winning, and orphaned data dirs from a
    crashed writer are GC'd by the next successful commit."""
    import os

    from pysparkdedup.checkpoint import ConcurrentCommitError

    cfg = DedupConfig()
    path = str(tmp_path / "ckpt")
    ckpt = SignatureCheckpoint(path)
    sigs = compute_signatures(pages, cfg).localCheckpoint(eager=True)
    ckpt.commit(sigs, cfg)

    # a competing writer holds the lock -> our commit must refuse
    os.makedirs(path, exist_ok=True)
    with open(ckpt._lock_path(), "w") as fh:
        fh.write("99999 now\n")
    with pytest.raises(ConcurrentCommitError, match="another commit holds"):
        ckpt.commit(sigs, cfg)
    os.unlink(ckpt._lock_path())

    # a crashed writer's leftover data dir is GC'd by the next commit
    orphan = os.path.join(path, "data-deadbeef0000")
    os.makedirs(orphan, exist_ok=True)
    ckpt.commit(sigs, cfg)
    assert not os.path.exists(orphan)
    manifest = ckpt.read_manifest()
    dirs = [n for n in os.listdir(path) if n.startswith("data-")]
    assert dirs == [manifest["data"]]  # exactly the live dir, no orphans
    assert not os.path.exists(ckpt._lock_path())  # lock released


def test_stale_lock_is_broken(pages, tmp_path):
    """A lock older than LOCK_STALE_S is a crashed writer — the next commit
    breaks it and proceeds."""
    import os

    cfg = DedupConfig()
    path = str(tmp_path / "ckpt")
    ckpt = SignatureCheckpoint(path)
    os.makedirs(path, exist_ok=True)
    with open(ckpt._lock_path(), "w") as fh:
        fh.write("1 crashed\n")
    old = 1e9  # far in the past
    os.utime(ckpt._lock_path(), (old, old))
    sigs = compute_signatures(pages, cfg).localCheckpoint(eager=True)
    ckpt.commit(sigs, cfg)  # breaks the stale lock, succeeds
    assert ckpt.read_manifest() is not None
    assert not os.path.exists(ckpt._lock_path())

def test_two_breakers_race_exactly_one_wins(pages, tmp_path):
    """The stale-lock-break TOCTOU (verdict r3 #2): writer A and writer B both
    observe a stale lock; A breaks it and re-acquires; B — still acting on its
    stale observation — must NOT unlink A's fresh lock and proceed. The break
    is serialized through an flock'd breaker mutex that RE-VALIDATES
    staleness live, so B's break is a no-op and B raises
    ConcurrentCommitError: exactly one winner, no interleaved commit+GC."""
    import os

    from pysparkdedup.checkpoint import ConcurrentCommitError, SignatureCheckpoint

    path = str(tmp_path / "ckpt")
    os.makedirs(path, exist_ok=True)
    a = SignatureCheckpoint(path)
    b = SignatureCheckpoint(path)

    # the crashed writer's corpse both A and B observe as stale
    with open(a._lock_path(), "w") as fh:
        fh.write("deadbeef 1 crashed\n")
    os.utime(a._lock_path(), (1e9, 1e9))

    # A wins the race: breaks the corpse, acquires a fresh lock
    token_a = a._acquire_lock()
    with open(a._lock_path()) as fh:
        assert fh.read().split(" ", 1)[0] == token_a

    # B still holds its STALE observation (simulate the re-ordered stat by
    # pinning B's observation point to the corpse's age); its break must
    # re-validate live under the mutex, leave A's fresh lock alone, and lose.
    b._lock_age = lambda: 1e9  # B "saw" the stale corpse
    with pytest.raises(ConcurrentCommitError):
        b._acquire_lock()

    # A's lock survived B's attempted break — no second writer proceeded
    with open(a._lock_path()) as fh:
        assert fh.read().split(" ", 1)[0] == token_a

    # and B releasing with a foreign token must not unlink A's lock either
    b._release_lock("not-the-owner")
    assert os.path.exists(a._lock_path())
    a._release_lock(token_a)
    assert not os.path.exists(a._lock_path())


def test_manifest_metrics_and_lineage(pages_factory, tmp_path):
    """north_rule: resume is auditable — the manifest carries per-partition
    lineage (file / rows / url range) and the run's ResumeMetrics."""
    cfg = DedupConfig()
    path = str(tmp_path / "ckpt")
    v1 = pages_factory([
        ("u/a", ts(0), "alpha " * 30, "en"),
        ("u/b", ts(1), "beta " * 30, "en"),
    ])
    signatures_with_checkpoint(v1, cfg, path)
    ckpt = SignatureCheckpoint(path)

    m1 = ckpt.last_metrics()
    assert dataclasses.asdict(m1) == {
        "reused": 0, "recomputed": 2, "pruned": 0, "total": 2}
    lin1 = ckpt.lineage()
    assert lin1 and sum(p["rows"] for p in lin1) == 2
    for p in lin1:
        if p["rows"]:
            assert p["url_min"] <= p["url_max"]
            assert p["file"].endswith(".parquet")
    assert ckpt.read_manifest()["total_rows"] == 2

    # second run: u/a unchanged (reused), u/b vanished (pruned), u/c new
    v2 = pages_factory([
        ("u/a", ts(0), "alpha " * 30, "en"),
        ("u/c", ts(2), "gamma " * 30, "en"),
    ])
    signatures_with_checkpoint(v2, cfg, path)
    m2 = ckpt.last_metrics()
    assert dataclasses.asdict(m2) == {
        "reused": 1, "recomputed": 1, "pruned": 1, "total": 2}
    assert sum(p["rows"] for p in ckpt.lineage()) == 2


def test_manifest_input_file_lineage(spark, tmp_path, pages_factory):
    """File-backed snapshots record WHICH source files fed the commit."""
    cfg = DedupConfig()
    src = str(tmp_path / "corpus")
    pages_factory([
        ("u/a", ts(0), "alpha " * 30, "en"),
        ("u/b", ts(1), "beta " * 30, "en"),
    ]).write.parquet(src)
    pages = spark.read.parquet(src)

    path = str(tmp_path / "ckpt")
    signatures_with_checkpoint(pages, cfg, path)
    manifest = SignatureCheckpoint(path).read_manifest()
    files = manifest.get("input_files", [])
    assert files and all("corpus" in f and f.endswith(".parquet")
                         for f in files)


def test_input_file_lineage_is_metadata_not_row_scan(spark, tmp_path,
                                                     pages_factory):
    """Lineage comes from the plan's file-index metadata (inputFiles), not
    a corpus row scan: a filter that excludes every row of one source file
    must still list that file (it FED the snapshot definition), and the
    listing must cost zero extra corpus-reading jobs at commit time —
    pinned here by the semantics only the metadata path can give (the old
    input_file_name().distinct() scan saw post-filter rows and would list
    only the surviving file)."""
    cfg = DedupConfig()
    src_a, src_b = str(tmp_path / "crawl_a"), str(tmp_path / "crawl_b")
    pages_factory([("a/0", ts(0), "alpha " * 30, "en")]).write.parquet(src_a)
    pages_factory([("b/0", ts(1), "beta " * 30, "en")]).write.parquet(src_b)
    pages = spark.read.parquet(src_a).unionByName(spark.read.parquet(src_b))
    filtered = pages.filter(~F.col("url").startswith("b/"))

    path = str(tmp_path / "ckpt")
    signatures_with_checkpoint(filtered, cfg, path)
    files = SignatureCheckpoint(path).read_manifest().get("input_files", [])
    assert any("crawl_a" in f for f in files)
    assert any("crawl_b" in f for f in files)  # metadata listing, not rows


def test_footer_lineage_equals_input_file_name_scan(spark, pages_factory,
                                                    tmp_path):
    """The lineage read from the committed files' footers equals the row
    scan it replaced, ``groupBy(input_file_name())``, on a multi-file
    commit with a zero-row file (skipped, as the scan skips it) and a url
    over 4 KiB, whose file carries no url min/max statistics."""
    import pyarrow.parquet as pq

    cfg = DedupConfig()
    sigs = compute_signatures(pages_factory([
        ("short/a", ts(0), "alpha " * 30, "en"),
        ("short/b", ts(1), "beta " * 30, "en"),
        ("long/" + "x" * 5000, ts(2), "gamma " * 30, "en"),
    ]), cfg)
    # One file per partition: the first is empty (the writer's first task
    # writes its file even then), the short urls share the second.
    rows = sigs.collect()
    parts = [[], [r for r in rows if r["url"].startswith("short/")],
             [r for r in rows if r["url"].startswith("long/")]]
    sigs = spark.createDataFrame(
        spark.sparkContext.parallelize(parts, len(parts)).flatMap(
            lambda part: part), sigs.schema)
    ckpt = SignatureCheckpoint(str(tmp_path / "ckpt"))
    ckpt.commit(sigs, cfg)
    data = os.path.join(ckpt.path, ckpt.read_manifest()["data"])

    metas = {n: pq.read_metadata(os.path.join(data, n))
             for n in os.listdir(data) if n.endswith(".parquet")}
    assert sorted(m.num_rows for m in metas.values()) == [0, 1, 2]
    (long_file,) = [m for m in metas.values() if m.num_rows == 1]
    stats = long_file.row_group(0).column(0).statistics
    assert long_file.schema.column(0).path == "url"
    assert stats is None or not stats.has_min_max

    scan = sorted(({
        "file": os.path.basename(r["file"]),
        "rows": r["rows"],
        "url_min": r["url_min"],
        "url_max": r["url_max"],
    } for r in spark.read.parquet(data).groupBy(
        F.input_file_name().alias("file")).agg(
            F.count("*").alias("rows"),
            F.min("url").alias("url_min"),
            F.max("url").alias("url_max")).collect()),
        key=lambda p: p["file"])
    assert ckpt.lineage() == scan
    assert ckpt.read_manifest()["total_rows"] == 3
