"""Tiered deduplication: exact -> near-dup -> semantic, cheapest first.

The single-verb analog of running the reference's hash dedup and then a
fuzzy pass by hand (ref deduplicate.py:958-1058 is the exact tier; the
reference has no fuzzy tiers — they come from the public web-curation
pipelines: MinHash-LSH near-dup per Lee et al. 2021 "Deduplicating
Training Data Makes Language Models Better", embedding-cosine semantic
dedup per Abbas et al. 2023 "SemDeDup"). The tier ORDER is the point:
each tier is strictly more expensive per surviving row than the last, so
every tier runs only on the previous tier's survivors — the exact tier's
groupBy typically removes the bulk of a crawl before a single shingle is
hashed, and the near tier shrinks the pool again before any embedding
bucket is built.

Output is a per-document dedup ledger ``(url, tier, kept_by)``:

- ``tier``     -- ``'kept'`` or the tier that dropped the doc
                  (``'exact' | 'near' | 'semantic'``);
- ``kept_by``  -- the FINAL surviving representative. Chains are resolved:
                  if doc A collapses into B at the exact tier and B later
                  loses to C at the near tier, A's ``kept_by`` is C (and
                  C's row says ``tier='kept'``). Every ``kept_by`` value
                  is therefore the url of a ``'kept'`` row — the ledger is
                  directly usable as a remap table for downstream joins.

Every winner pick is ``min(url)`` (lexicographic, matching the
deterministic-ordering contract of strategy.py and components.py's
min-label clusters), so the ledger is byte-identical across parallelism
levels.

Scale notes (100 TB):
- The exact tier is one hash groupBy + a hash-keyed join-back; empty/null
  texts are keyed by their own url (the sha2('') skew bomb — same guard as
  exact.with_cluster_key).
- The near tier reuses minhash_clusters wholesale: L2-blocked numpy
  signatures, skew-capped band buckets, double-step union-find — its
  input is only the exact survivors (for web crawls routinely a small
  fraction of the input).
- The semantic tier reuses embedding_dup_clusters (sign-LSH buckets,
  capped, exact-cosine verify) over an id-keyed equi-join of the
  embedding table with the remaining survivors — the embedding payload
  never rides a shuffle wider than that join.
- Chain resolution joins loser maps to loser maps — slim (url, winner)
  string pairs, never the text payload. No windows, no collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .components import materialize
from .config import DedupConfig

TIER_EXACT = "exact"
TIER_NEAR = "near"
TIER_SEMANTIC = "semantic"
TIER_KEPT = "kept"


def _exact_losers(pages: DataFrame, cfg: DedupConfig, id_col: str,
                  text_col: str) -> DataFrame:
    """(url, kept_by) for every doc that loses its exact-hash group.

    Key = the config-selected content hash (normalize.content_hash_expr —
    the same raw/normalized/skip dispatch as every other exact path, ref
    deduplicate.py:164-178), so ``--hash-body raw`` keeps whitespace-only
    variants distinct here exactly as it does in ``--mode exact``.
    Null/blank docs key on their own url regardless of mode: they are
    unconditional singletons (and sha2('') never becomes a mega-group).

    ``skip`` mode keys on the metadata tuple (lang, warc_ts day, first
    line — normalize.metadata_hash), never the body: the frame must carry
    ``lang``/``warc_ts``, checked eagerly here so a bare (url, text)
    frame fails with a named-column error at call time instead of an
    unresolved-attribute AnalysisException deep in the cascade plan."""
    from .config import CONTENT_HASH_SKIP
    from .normalize import content_hash_expr

    if cfg.content_hash_mode == CONTENT_HASH_SKIP:
        missing = [c for c in ("lang", "warc_ts") if c not in pages.columns]
        if missing:
            raise ValueError(
                f"content_hash_mode='skip' keys on metadata columns, but the "
                f"input frame is missing {missing}; provide them (they may "
                f"be null) or use content_hash_mode='raw'/'normalized'")
    text = F.col(text_col)
    key = F.when(
        text.isNull() | (F.length(F.trim(text)) == 0), F.col(id_col)
    ).otherwise(content_hash_expr(cfg, text))
    hashed = pages.select(F.col(id_col).alias("url"), key.alias("h"))
    winners = hashed.groupBy("h").agg(F.min("url").alias("kept_by"))
    return (
        hashed.join(winners, "h")
        .filter(F.col("url") != F.col("kept_by"))
        .select("url", "kept_by")
    )


def _cluster_losers(clusters: DataFrame) -> DataFrame:
    """(url, kept_by) from a (url, cluster_key) cluster frame: the winner is
    min(url) per cluster, everyone else loses to it.

    The clusterers (components.connected_components and the value-label
    expansion) CONSTRUCT cluster_key as ``'cc:' + min(member url)``, so the
    winner is already carried on every row — slicing it out of the key is a
    shuffle-free projection, where the former groupBy + join-back paid a
    full aggregation + join round per tier. Pinned by the clusterer
    contract (min-label components); test_tiers exercises both tiers."""
    return (
        clusters.withColumn(
            "kept_by", F.expr("substring(cluster_key, 4)"))
        .filter(F.col("url") != F.col("kept_by"))
        .select("url", "kept_by")
    )


def _resolve(losers: DataFrame, later: DataFrame) -> DataFrame:
    """Re-point a loser map through a LATER tier's loser map: if my winner
    itself lost later, inherit its final winner. Left join on the winner
    url — loser-map-to-loser-map, slim string pairs."""
    lat = later.select(F.col("url").alias("_w"),
                       F.col("kept_by").alias("_final"))
    return (
        losers.join(lat, losers["kept_by"] == lat["_w"], "left")
        .select("url", F.coalesce("_final", "kept_by").alias("kept_by"))
    )


def tiered_dedup(
    pages: DataFrame,
    cfg: DedupConfig | None = None,
    emb: DataFrame | None = None,
    *,
    emb_threshold: float = 0.95,
    emb_kwargs: dict | None = None,
    id_col: str = "url",
    text_col: str = "text",
    emb_id_col: str = "vec_id",
    on_stage=None,
) -> DataFrame:
    """Run the tier cascade over ``pages``; returns the dedup ledger
    ``(url, tier, kept_by)`` with one row per input document.

    - exact tier: always on;
    - near tier:  always on (MinHash-LSH per ``cfg``);
    - semantic tier: on iff ``emb`` is given — a ``(vec_id, embedding)``
      frame joined to survivors on ``vec_id == url`` (cast to string);
      ``vec_id`` may be integral (the embeddings table) or string (urls
      directly); ``emb_threshold``/``emb_kwargs`` feed
      embedding_dup_clusters.

    Every tier's slim (url, kept_by) loser map feeds three consumers (the
    next tier's anti-join, the chain resolution and the ledger), and Spark
    has no DAG-level CSE, so each map is a projection of a frame that is
    already materialized. The exact tier's map is eagerly
    ``localCheckpoint``ed: its lineage is a corpus-wide hash groupBy. The
    near and semantic maps slice the clusterer's result, which is itself
    materialized (a checkpointed fixpoint or a driver-built frame). The
    corpus frame itself is NEVER cached: survivors are re-derived by
    column-pruned anti-joins against the maps, the right call when the
    input is 100 TB and the maps are two string columns.

    ``on_stage`` (optional) is called with the tier name ('exact', 'near',
    'semantic') once that tier has run: after the exact loser map is
    materialized, and after the near and semantic clusterers have solved —
    a timing hook so instrumentation (bench.py's per-tier breakdown) runs
    THIS implementation instead of a parallel copy of the wiring.
    """
    from .minhash import minhash_clusters

    cfg = cfg or DedupConfig()

    def stage(name: str) -> None:
        if on_stage is not None:
            on_stage(name)

    base = pages.select(F.col(id_col).alias("url"), F.col(text_col),
                        *[c for c in pages.columns
                          if c not in (id_col, text_col)])

    # Tier 1: exact. Losers leave the pool before any shingle is hashed.
    # An eager checkpoint, not a persist: a persist outside any cache
    # scope would live for the session and serve the next identical plan.
    l_exact = materialize(_exact_losers(pages, cfg, id_col, text_col))
    stage(TIER_EXACT)
    surv1 = base.join(l_exact.select("url"), "url", "left_anti")

    # Tier 2: near-dup over exact survivors only.
    l_near = _cluster_losers(minhash_clusters(surv1, cfg))
    stage(TIER_NEAR)
    surv2 = surv1.join(l_near.select("url"), "url", "left_anti")

    # Tier 3: semantic over what's left, if embeddings are available.
    if emb is not None:
        from pyspark import StorageLevel

        from .cache import cache_scope, track
        from .similarity import embedding_dup_clusters

        # Cache the survivor-embedding frame: embedding_dup_clusters
        # consumes it several times (bucketing kernel, the member-vector
        # attach, auto-banding count when n_bits is unset), and its
        # lineage is two corpus-wide anti-joins over the embedding scan —
        # without the cache each consumer re-derives the survivor pool.
        # The persist is lazy (the clusterer's first job fills it) and is
        # released when the scope closes: the clusters are materialized by
        # then. Unlike the text corpus (never cached), this frame is slim:
        # id + vector, ~1-2% of corpus bytes at web scale.
        with cache_scope():
            sub = track(
                emb.withColumn("url", F.col(emb_id_col).cast("string"))
                .join(surv2.select("url"), "url").drop("url")
                .persist(StorageLevel.MEMORY_AND_DISK))
            l_sem = _cluster_losers(embedding_dup_clusters(
                sub, emb_threshold, id_col=emb_id_col, **(emb_kwargs or {})))
    else:
        l_sem = pages.sparkSession.createDataFrame(
            [], "url string, kept_by string")
    stage(TIER_SEMANTIC)

    # Chain resolution, latest tier first: near losers may point at a
    # semantic loser; exact losers at a near OR semantic loser.
    l_near_f = _resolve(l_near, l_sem)
    l_exact_f = _resolve(_resolve(l_exact, l_near), l_sem)

    ledger = (
        l_exact_f.select("url", F.lit(TIER_EXACT).alias("tier"), "kept_by")
        .unionByName(l_near_f.select(
            "url", F.lit(TIER_NEAR).alias("tier"), "kept_by"))
        .unionByName(l_sem.select(
            "url", F.lit(TIER_SEMANTIC).alias("tier"), "kept_by"))
    )
    # The kept rows only need the LOSER URL SET, which resolution does not
    # change — anti-join against the raw loser maps, not the
    # resolved ledger, so the resolve-join subtree is not re-derived a
    # second time inside the anti-join branch (no DAG-level CSE).
    losers = (
        l_exact.select("url")
        .unionByName(l_near.select("url"))
        .unionByName(l_sem.select("url"))
    )
    kept = (
        base.select("url").join(losers, "url", "left_anti")
        .select("url", F.lit(TIER_KEPT).alias("tier"),
                F.col("url").alias("kept_by"))
    )
    return ledger.unionByName(kept)


def tier_stats(ledger: DataFrame) -> DataFrame:
    """One row of cascade accounting: docs in, dropped per tier, kept —
    a single partial-aggregating groupBy pivoted in the driver plan (4
    first-class columns, no driver-side collect of data rows)."""
    return ledger.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("tier") == TIER_EXACT).cast("long")).alias("n_exact"),
        F.sum((F.col("tier") == TIER_NEAR).cast("long")).alias("n_near"),
        F.sum((F.col("tier") == TIER_SEMANTIC).cast("long"))
        .alias("n_semantic"),
        F.sum((F.col("tier") == TIER_KEPT).cast("long")).alias("n_kept"),
    )
