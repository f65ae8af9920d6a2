"""Cross-corpus (incremental crawl) dedup: new batch vs old corpus
signatures, including the checkpoint-as-old-corpus path and the hot-bucket
representative degrade."""

import pytest
from pyspark.sql import functions as F

from pysparkdedup.checkpoint import compute_signatures
from pysparkdedup.config import DedupConfig
from pysparkdedup.crosscorpus import (
    cross_candidate_pairs,
    dedup_against,
    old_side_dims,
)
from pysparkdedup.minhash import lsh_bands, minhash_signatures
from tests.conftest import jobs_of, ts


def long_text(seed: str, n: int = 60) -> str:
    return " ".join(f"{seed}{i}" for i in range(n))


@pytest.fixture()
def old_new(pages_factory):
    base = long_text("w")
    near = base.rsplit(" ", 2)[0] + " zz1 zz2"  # ~0.97 token overlap
    old = pages_factory([
        ("old/a", ts(0), base, "en"),
        ("old/b", ts(1), long_text("x"), "en"),
        ("old/c", ts(2), base, "en"),          # same hash as old/a
    ])
    new = pages_factory([
        ("new/exact", ts(10), base, "en"),     # exact dup of old/a + old/c
        ("new/near", ts(11), near, "en"),      # near dup of old/a
        ("new/fresh", ts(12), long_text("q"), "en"),
    ])
    return old, new


def test_dedup_against_statuses(old_new):
    old, new = old_new
    cfg = DedupConfig()
    old_sigs = compute_signatures(old, cfg)
    rows = dedup_against(new, old_sigs, cfg).collect()
    # one row per new page, even though two old pages share new/exact's hash
    assert len(rows) == new.count()
    got = {r["url"]: r.asDict() for r in rows}
    assert len(got) == len(rows)

    assert got["new/exact"]["status"] == "exact_dup"
    assert got["new/exact"]["dup_of"] == "old/a"  # min of {old/a, old/c}
    assert got["new/exact"]["jaccard"] == 1.0

    assert got["new/near"]["status"] == "near_dup"
    assert got["new/near"]["dup_of"] == "old/a"
    assert 0.5 <= got["new/near"]["jaccard"] <= 1.0

    assert got["new/fresh"]["status"] == "unique"
    assert got["new/fresh"]["dup_of"] is None
    assert got["new/fresh"]["jaccard"] is None


def test_dedup_against_checkpoint_roundtrip(old_new, tmp_path):
    """The previous crawl's committed checkpoint IS the old corpus."""
    from pysparkdedup.checkpoint import signatures_with_checkpoint

    old, new = old_new
    cfg = DedupConfig()
    old_sigs = signatures_with_checkpoint(old, cfg, str(tmp_path / "ckpt"))
    got = {r["url"]: r["status"]
           for r in dedup_against(new, old_sigs, cfg).collect()}
    assert got == {"new/exact": "exact_dup", "new/near": "near_dup",
                   "new/fresh": "unique"}


def test_hot_bucket_degrades_to_representative(pages_factory):
    """An old-side bucket past the cap contributes exactly one candidate
    (its min-url representative) per matching new doc, not one per member."""
    text = long_text("h")
    cfg = DedupConfig()
    old = pages_factory([
        (f"old/{i:03d}", ts(i), text, "en") for i in range(8)])
    new = pages_factory([("new/0", ts(99), text, "en")])
    old_sigs = compute_signatures(old, cfg)
    dims = old_side_dims(old_sigs, cfg)
    old_bands, old_stats = dims["bands"], dims["band_stats"]
    new_bands = lsh_bands(minhash_signatures(new, cfg), cfg)

    full = cross_candidate_pairs(new_bands, old_bands, old_stats, cap=2000)
    assert full.count() == 8  # cold: every member is a candidate

    degraded = cross_candidate_pairs(new_bands, old_bands, old_stats, cap=4)
    rows = degraded.collect()
    assert len(rows) == 1 and rows[0]["old_url"] == "old/000"
    assert old_stats.filter(F.col("n") > 4).count() > 0

    # the verdict is unchanged either way: identical text verifies vs the rep
    got = {r["url"]: r.asDict()
           for r in dedup_against(new, old_sigs, cfg, cap=4).collect()}
    assert got["new/0"]["status"] == "exact_dup"  # identical text is exact


def test_warm_path_with_persisted_dims_matches_cold(old_new, tmp_path):
    """cross_dims=True commit + dedup_against_checkpoint (the warm
    incremental path, zero old-side aggregations) must produce exactly the
    cold path's verdicts."""
    from pysparkdedup.checkpoint import (
        SignatureCheckpoint, signatures_with_checkpoint)
    from pysparkdedup.crosscorpus import dedup_against_checkpoint

    old, new = old_new
    cfg = DedupConfig()
    path = str(tmp_path / "ckpt")
    old_sigs = signatures_with_checkpoint(old, cfg, path, cross_dims=True)

    dims = SignatureCheckpoint(path).load_cross_dims(old.sparkSession, cfg)
    assert dims is not None
    assert set(dims) == {"exact_dim", "bands", "band_stats"}
    # the persisted stats dim also tells how many buckets would degrade
    assert dims["band_stats"].filter(F.col("n") > 2000).count() == 0

    cold = {r["url"]: r.asDict()
            for r in dedup_against(new, old_sigs, cfg).collect()}
    warm = {r["url"]: r.asDict()
            for r in dedup_against_checkpoint(new, path, cfg).collect()}
    assert warm == cold
    assert warm["new/exact"]["status"] == "exact_dup"
    assert warm["new/near"]["status"] == "near_dup"


def test_persisted_cross_dims_equal_old_side_dims(old_new, tmp_path):
    """A cross_dims=True commit persists exactly old_side_dims of the
    committed signature table, row for row, for each dim."""
    from pysparkdedup.checkpoint import (
        SignatureCheckpoint, signatures_with_checkpoint)

    old, _ = old_new
    cfg = DedupConfig()
    path = str(tmp_path / "ckpt")
    committed = signatures_with_checkpoint(old, cfg, path, cross_dims=True)

    persisted = SignatureCheckpoint(path).load_cross_dims(
        old.sparkSession, cfg)
    derived = old_side_dims(committed, cfg)
    assert persisted is not None and set(persisted) == set(derived)
    for name, dim in derived.items():
        cols = dim.columns
        assert persisted[name].columns == cols, name
        want = sorted(tuple(r) for r in dim.collect())
        got = sorted(tuple(r) for r in persisted[name].select(*cols).collect())
        assert got == want and got, name


def test_load_cross_dims_absent_without_flag_or_on_mismatch(old_new,
                                                            tmp_path):
    from pysparkdedup.checkpoint import (
        SignatureCheckpoint, signatures_with_checkpoint)

    old, _ = old_new
    cfg = DedupConfig()
    plain = str(tmp_path / "plain")
    signatures_with_checkpoint(old, cfg, plain)  # no cross_dims
    assert SignatureCheckpoint(plain).load_cross_dims(
        old.sparkSession, cfg) is None

    dimmed = str(tmp_path / "dimmed")
    signatures_with_checkpoint(old, cfg, dimmed, cross_dims=True)
    other = DedupConfig(num_perm=cfg.num_perm * 2)
    assert SignatureCheckpoint(dimmed).load_cross_dims(
        old.sparkSession, other) is None  # fingerprint guard


def test_load_cross_dims_refused_on_rebanding(old_new, tmp_path):
    """Changing ONLY the banding layout (lsh_bands 16 -> 8, num_perm still
    divisible) keeps the signature fingerprint — load() must still serve
    the signatures — but the persisted band dims were sliced under the old
    (b, r) and MUST be refused: joining them would silently report
    near-dups as unique. The warm entry point then falls back to per-run
    derivation and still matches the cold path under the new banding."""
    from pysparkdedup.checkpoint import (
        SignatureCheckpoint, signatures_with_checkpoint)
    from pysparkdedup.crosscorpus import dedup_against_checkpoint

    old, new = old_new
    cfg = DedupConfig()  # lsh_bands=16
    path = str(tmp_path / "ckpt")
    old_sigs = signatures_with_checkpoint(old, cfg, path, cross_dims=True)

    rebanded = DedupConfig(lsh_bands=8)
    assert rebanded.signature_fingerprint() == cfg.signature_fingerprint()
    ckpt = SignatureCheckpoint(path)
    assert ckpt.load(old.sparkSession, rebanded) is not None  # sigs valid
    assert ckpt.load_cross_dims(old.sparkSession, rebanded) is None
    # same-banding load still serves the dims
    assert ckpt.load_cross_dims(old.sparkSession, cfg) is not None

    cold = {r["url"]: r.asDict()
            for r in dedup_against(new, old_sigs, rebanded).collect()}
    warm = {r["url"]: r.asDict()
            for r in dedup_against_checkpoint(new, path, rebanded).collect()}
    assert warm == cold
    assert warm["new/near"]["status"] == "near_dup"


def test_load_cross_dims_legacy_manifest_warns(old_new, tmp_path):
    """A manifest committed before banding metadata existed has no
    'banding' key — the dims' layout is unknown, so they are refused,
    but OBSERVABLY (a warning), not as a silent warm-path regression."""
    import json
    import warnings as _w

    from pysparkdedup.checkpoint import (
        SignatureCheckpoint, signatures_with_checkpoint)

    old, _ = old_new
    cfg = DedupConfig()
    path = str(tmp_path / "legacy")
    signatures_with_checkpoint(old, cfg, path, cross_dims=True)
    ckpt = SignatureCheckpoint(path)
    mpath = ckpt._manifest_path()
    with open(mpath) as fh:
        manifest = json.load(fh)
    del manifest["banding"]
    with open(mpath, "w") as fh:
        json.dump(manifest, fh, indent=2, default=str)

    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        assert ckpt.load_cross_dims(old.sparkSession, cfg) is None
    assert any("predates banding" in str(w.message) for w in caught)
    # the signatures themselves are still served
    assert ckpt.load(old.sparkSession, cfg) is not None


def test_dedup_against_checkpoint_raises_on_missing(old_new, tmp_path):
    from pysparkdedup.crosscorpus import dedup_against_checkpoint

    _, new = old_new
    with pytest.raises(FileNotFoundError):
        dedup_against_checkpoint(new, str(tmp_path / "nowhere"),
                                 DedupConfig())


def test_recommit_gcs_stale_dim_dirs(old_new, tmp_path):
    """A second cross_dims commit must GC the first commit's dim dirs along
    with its data dir (the orphan sweep covers all four dir families)."""
    import os

    from pysparkdedup.checkpoint import signatures_with_checkpoint

    old, _ = old_new
    cfg = DedupConfig()
    path = str(tmp_path / "ckpt")
    signatures_with_checkpoint(old, cfg, path, cross_dims=True)
    signatures_with_checkpoint(old, cfg, path, cross_dims=True)
    names = os.listdir(path)
    for prefix in ("data-", "exactdim-", "bands-", "bandstats-"):
        assert sum(n.startswith(prefix) for n in names) == 1, names


def test_cross_dims_commit_and_loads_start_no_metadata_jobs(old_new,
                                                            tmp_path):
    """With schemas recorded in the manifest and lineage read from the
    footers, a cold cross_dims=True commit starts only its writes' jobs:
    the signature write (1), the exact dim (2), the band projection (1) and
    the band stats (2). Opening the signatures and the dims starts none."""
    from pysparkdedup.checkpoint import (
        SignatureCheckpoint, signatures_with_checkpoint)

    old, _ = old_new
    spark, cfg = old.sparkSession, DedupConfig()
    path = str(tmp_path / "ckpt")
    _, commit_jobs = jobs_of(spark, lambda: signatures_with_checkpoint(
        old, cfg, path, cross_dims=True))
    assert commit_jobs == 6

    ckpt = SignatureCheckpoint(path)
    (sigs, dims), load_jobs = jobs_of(spark, lambda: (
        ckpt.load(spark, cfg), ckpt.load_cross_dims(spark, cfg)))
    assert sigs is not None and dims is not None
    assert load_jobs == 0


def test_recorded_schemas_equal_inferred_and_legacy_manifest_loads(
        old_new, tmp_path):
    """Each table a commit wrote opens under its recorded schema, which is
    the schema Spark infers from the files; a manifest without ``schemas``
    (written by an older version) loads the same rows and dims by
    inference."""
    import json
    import os

    from pysparkdedup.checkpoint import (
        CROSS_DIMS, SignatureCheckpoint, signatures_with_checkpoint)

    old, _ = old_new
    spark, cfg = old.sparkSession, DedupConfig()
    path = str(tmp_path / "ckpt")
    signatures_with_checkpoint(old, cfg, path, cross_dims=True)
    ckpt = SignatureCheckpoint(path)
    manifest = ckpt.read_manifest()
    assert set(manifest["schemas"]) == {"data", *CROSS_DIMS}
    for key in manifest["schemas"]:
        inferred = spark.read.parquet(os.path.join(path, manifest[key]))
        assert ckpt._read(spark, manifest, key).schema == inferred.schema

    def tables():
        frames = {"data": ckpt.load(spark, cfg),
                  **ckpt.load_cross_dims(spark, cfg)}
        return {k: (df.schema, sorted(tuple(r) for r in df.collect()))
                for k, df in frames.items()}

    recorded = tables()
    del manifest["schemas"]
    with open(ckpt._manifest_path(), "w") as fh:
        json.dump(manifest, fh)
    assert tables() == recorded


@pytest.mark.slow
def test_cli_dedup_against_end_to_end(old_new, tmp_path, spark, capsys):
    """hash-only --cross-dims commit, then --mode dedup-against on the new
    batch: verdict parquet written, summary counts printed."""
    import json

    from pysparkdedup.cli import main

    old, new = old_new
    ckpt = str(tmp_path / "ckpt")
    new_in = str(tmp_path / "new")
    out = str(tmp_path / "flags")
    old_in = str(tmp_path / "old")
    old.write.parquet(old_in)
    new.write.parquet(new_in)

    rc = main(["--input", old_in, "--mode", "hash-only",
               "--checkpoint", ckpt, "--cross-dims", "--master", "local[4]"])
    assert rc == 0
    capsys.readouterr()

    rc = main(["--input", new_in, "--mode", "dedup-against",
               "--checkpoint", ckpt, "--output", out,
               "--master", "local[4]"])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out)
    assert stats == {"NEW_DOCS": 3, "EXACT_DUP": 1, "NEAR_DUP": 1,
                     "UNIQUE": 1}
    got = {r["url"]: r["status"] for r in spark.read.parquet(out).collect()}
    assert got == {"new/exact": "exact_dup", "new/near": "near_dup",
                   "new/fresh": "unique"}


@pytest.mark.slow
def test_cross_corpus_recall_on_corpus(spark):
    """A new doc sharing a claimed-kind true cluster with >= 1 old doc must
    be flagged (exact_dup or near_dup) — the cross-corpus analog of the
    BASELINE.md dup-pair recall >= 0.99 gate, on the planted corpus."""
    from pysparkdedup.corpus import pages_and_truth

    pages, truth = pages_and_truth(spark, 2000)
    cfg = DedupConfig()
    is_old = F.crc32("url") % 2 == 0
    old, new = pages.filter(is_old), pages.filter(~is_old)

    flagged = dedup_against(new, compute_signatures(old, cfg), cfg)

    claimed = truth.filter(F.col("dup_kind").isin(
        "exact", "whitespace", "time_ladder", "undated", "same_ts",
        "boilerplate", "near_j095", "near_j09"))
    old_clusters = claimed.filter(is_old).select("true_cluster").distinct()
    should_flag = (
        claimed.filter(~is_old)
        .join(old_clusters, "true_cluster", "left_semi")
        .select("url")
    )
    total = should_flag.count()
    hit = should_flag.join(
        flagged.filter(F.col("status") != "unique").select("url"),
        "url", "inner").count()
    assert total > 0
    recall = hit / total
    assert recall >= 0.99, f"cross recall {recall:.4f} ({hit}/{total})"
