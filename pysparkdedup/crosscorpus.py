"""Cross-corpus (incremental-crawl) deduplication.

The monthly-crawl workflow: a NEW batch of pages must be deduplicated
AGAINST an existing reference corpus (the previous crawls) without touching
or recomputing the old side — its committed signature checkpoint
(checkpoint.py: url, content_hash, minhash, ...) IS the old corpus here.
This generalizes the reference's one-box incremental run (new mails vs the
SQLite hash cache, ref deduplicate.py:869-886 + cache.py) to two corpora of
independent scale.

The old side is read only through its three cross dims (``old_side_dims``,
the one definition; a ``cross_dims=True`` checkpoint commit persists them).

Pipeline (all JVM joins, skew-aware):
1. exact:  new content_hash equi-join against the old corpus's
   hash->min(url) representative map — one shuffle of (hash, url) pairs.
2. near:   exact-unique new docs only (anti-join first: at a typical 30-60%
   re-crawl overlap the LSH stage sees a fraction of the batch) ride MinHash
   LSH banding against the old bands; band buckets that are HOT on the old
   side (boilerplate) degrade to a single representative old member —
   a new doc needs one witness to be flagged, so connectivity-style
   completeness is unnecessary and the degrade is exact for the
   is-duplicate verdict whenever the representative verifies; the loss
   (rep fails verify, another hot-bucket member would have passed) is the
   same observable trade pairs.py makes: the degraded buckets are the
   ``band_stats`` rows with ``n > cap``.
3. verify: candidate (new, old) pairs score signature-jaccard in the
   shared pair-row kernel (pairs.score_pairs, new side's signature against
   the old side's); best match per new doc picked deterministically
   (highest jaccard, then smallest old url).

Output: one row per new page — (url, status exact_dup|near_dup|unique,
dup_of, jaccard).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import DedupConfig
from .minhash import _equal_fraction, lsh_bands, minhash_signatures
from .pairs import score_pairs

DEFAULT_CROSS_CAP = 2000


def old_side_dims(old_sigs: DataFrame,
                  cfg: DedupConfig) -> dict[str, DataFrame]:
    """The old corpus's cross dims, as lazy frames — the one definition
    both ``dedup_against`` (cold) and ``SignatureCheckpoint.commit``
    (``cross_dims=True``, persisted for the warm path) use:

    - ``exact_dim``  : (content_hash, url) — hash -> min(url);
    - ``bands``      : (url, band_id, band_hash) — the LSH band projection;
    - ``band_stats`` : (band_id, band_hash, n, rep_url) — per band bucket,
      its member count and min-url representative (the hot-bucket gate
      and degrade dim)."""
    bands = lsh_bands(old_sigs, cfg)
    return {
        "exact_dim": old_sigs.groupBy("content_hash").agg(
            F.min("url").alias("url")),
        "bands": bands,
        "band_stats": bands.groupBy("band_id", "band_hash").agg(
            F.count(F.lit(1)).alias("n"), F.min("url").alias("rep_url")),
    }


def cross_candidate_pairs(
    new_bands: DataFrame,
    old_bands: DataFrame,
    old_stats: DataFrame,
    cap: int = DEFAULT_CROSS_CAP,
) -> DataFrame:
    """Distinct (url, old_url) pairs sharing >= 1 LSH band bucket.

    Old-side bucket sizes gate the join: cold buckets join in full; hot
    buckets (> ``cap`` old members) contribute only their min-url
    representative, broadcast — bounded pairs per new doc, no quadratic
    bucket blowup, exactly the skew posture of pairs.bucket_pairs but
    asymmetric (the new side is never collected or capped).

    ``old_stats`` is the ``band_stats`` dim of ``old_side_dims``: BOTH the
    bucket sizing and the hot-bucket representative pick come from it, so
    with persisted dims this function runs zero aggregations over the old
    side — the warm incremental path.
    """
    keys = ["band_id", "band_hash"]
    cold_old = old_bands.join(
        old_stats.filter(F.col("n") <= cap).select(*keys), keys)
    cold = new_bands.join(
        cold_old.select(*keys, F.col("url").alias("old_url")), keys)

    hot_reps = old_stats.filter(F.col("n") > cap).select(
        *keys, F.col("rep_url").alias("old_url"))
    hot = new_bands.join(F.broadcast(hot_reps), keys)

    return (
        cold.select("url", "old_url")
        .unionByName(hot.select("url", "old_url"))
        .dropDuplicates(["url", "old_url"])
    )


def dedup_against(
    new_pages: DataFrame,
    old_sigs: DataFrame,
    cfg: DedupConfig | None = None,
    cap: int = DEFAULT_CROSS_CAP,
    old_dims: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Flag every new page as exact_dup / near_dup / unique vs an old corpus.

    ``old_sigs`` is a (url, content_hash, minhash) frame — typically
    ``SignatureCheckpoint(path).load(...)`` from the previous crawl's commit,
    so the old corpus costs zero recompute. Returns one row per new page:

    - ``status``  : 'exact_dup' (normalized content hash matches an old
      page), else 'near_dup' (signature jaccard >= cfg.jaccard_threshold
      with some old page), else 'unique';
    - ``dup_of``  : the matched old url — min old url for exact matches,
      best-jaccard-then-min-url for near matches (deterministic);
    - ``jaccard`` : 1.0 for exact, the best match's estimate for near,
      null for unique.

    The old side is read only through ``old_side_dims``. ``old_dims`` —
    the dict SignatureCheckpoint.load_cross_dims() returns — supplies them
    persisted from the previous commit, so a warm incremental run does
    zero old-side aggregations (the old side is only joined: the band
    join against ``band_stats`` and the signature lookup in
    ``score_pairs``, each of which shuffles the old side when it does not
    broadcast). Without it, this function derives them per run from
    ``old_sigs`` — correct, but a monthly full aggregation of the old
    corpus at scale (the reference's cache stores exactly what makes warm
    runs cheap, ref cache.py:175-184). Prefer dedup_against_checkpoint for
    the warm path.
    """
    from pyspark import StorageLevel

    from .cache import track
    from .normalize import content_hash_expr

    cfg = cfg or DedupConfig()
    dims = old_dims if old_dims is not None else old_side_dims(old_sigs, cfg)

    keyed = new_pages.withColumn("_ch", content_hash_expr(cfg))
    old_rep = dims["exact_dim"].select(
        F.col("content_hash").alias("_ch"), F.col("url").alias("_old_exact"))
    exact = track(
        keyed.select("url", "_ch")
        .join(old_rep, "_ch", "left")
        .select("url", "_old_exact")
        .persist(StorageLevel.MEMORY_AND_DISK))

    # near-dup LSH only for exact-unique new docs (anti-join shrink)
    remaining = new_pages.join(
        exact.filter(F.col("_old_exact").isNotNull()).select("url"),
        "url", "left_anti")
    new_sigs = track(
        minhash_signatures(remaining, cfg).select("url", "minhash")
        .persist(StorageLevel.MEMORY_AND_DISK))

    pairs = cross_candidate_pairs(
        lsh_bands(new_sigs, cfg), dims["bands"], dims["band_stats"], cap)
    scored = score_pairs(
        pairs.select(F.col("url").alias("a"), F.col("old_url").alias("b")),
        new_sigs, old_sigs.select("url", "minhash"), _equal_fraction,
        "jaccard",
    ).filter(F.col("jaccard") >= cfg.jaccard_threshold)
    best = scored.groupBy(F.col("a").alias("url")).agg(
        F.min(F.struct((-F.col("jaccard")).alias("nj"),
                       F.col("b").alias("u"))).alias("_b"))

    # ``exact`` already holds every new page once: the exact dim is unique
    # per content_hash, so the left join neither drops nor repeats a url.
    return exact.join(best, "url", "left").select(
        "url",
        F.when(F.col("_old_exact").isNotNull(), F.lit("exact_dup"))
        .when(F.col("_b").isNotNull(), F.lit("near_dup"))
        .otherwise(F.lit("unique")).alias("status"),
        F.coalesce(F.col("_old_exact"), F.col("_b.u")).alias("dup_of"),
        F.when(F.col("_old_exact").isNotNull(), F.lit(1.0))
        .otherwise(F.round(-F.col("_b.nj"), 4)).alias("jaccard"),
    )


def dedup_against_checkpoint(
    new_pages: DataFrame,
    checkpoint_path: str,
    cfg: DedupConfig | None = None,
) -> DataFrame:
    """The warm incremental path: dedup ``new_pages`` against the old
    corpus's committed signature checkpoint, loading BOTH the signature
    table and (when the commit carried ``cross_dims=True``) the persisted
    ``old_side_dims`` — zero old-side recompute AND zero old-side
    aggregations. Falls back to per-run derivation when the dims are
    absent. Opening both starts no Spark job: the commit recorded every
    table's schema in its manifest.

    Raises FileNotFoundError when no fingerprint-matching checkpoint
    exists — an incremental run against nothing is a config error, not a
    silently-empty old corpus."""
    from .checkpoint import SignatureCheckpoint

    cfg = cfg or DedupConfig()
    ckpt = SignatureCheckpoint(checkpoint_path)
    old_sigs = ckpt.load(new_pages.sparkSession, cfg)
    if old_sigs is None:
        raise FileNotFoundError(
            f"no signature checkpoint with a matching fingerprint at "
            f"{checkpoint_path!r} — commit one with "
            f"signatures_with_checkpoint(..., cross_dims=True) first")
    old_dims = ckpt.load_cross_dims(new_pages.sparkSession, cfg)
    return dedup_against(new_pages, old_sigs, cfg, old_dims=old_dims)
