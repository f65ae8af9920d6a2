"""Pipeline orchestration — the reference's 5-step lifecycle as DataFrame stages.

load -> hash+group -> guards -> select -> act/report (ref cli.py:594-604), with
the near-dup clusterers pluggable as alternative group-key producers: any
module that assigns a ``cluster_key`` per url (exact hash, MinHash-LSH
components, SimHash components) feeds the same guards + cascade + stats tail.

Produces one final annotated DataFrame with per-row ``status`` in
{rejected, unique, selected, discarded, skipped}, per-set ``set_outcome``, and
a ``set_rep`` flag marking one deterministic representative row per set (for
set-level counting in one pass, no second shuffle). The frame comes back
lazily persisted, so a verb's report and its action share one execution of
the tail.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .config import DedupConfig
from .exact import annotate, with_cluster_key
from .groupagg import with_group_stats
from .guards import apply_guards
from .stats import Stat, check_stats, compute_stats
from .strategy import apply_cascade

FINAL_STATUS = ("rejected", "unique", "selected", "discarded", "skipped")


def label_outcomes(df: DataFrame,
                   rep_stats: DataFrame | None = None) -> DataFrame:
    """Fold guard + cascade annotations into final row status / set outcome.

    Expects: rejected, evicted, guard_skip_kind, selected, applied_strategy,
    set_skip_kind, cluster_key, url. Rows of guard-skipped sets never entered
    the cascade; their cascade columns are null.

    ``rep_stats`` (optional): a precomputed (cluster_key, _rep_url) frame.
    The rep depends only on (cluster_key, rejected, url) — all present
    before guards/cascade — so a caller can fold it into an earlier
    aggregation pass; without it the group-stats branch here re-derives
    the ENTIRE guard + cascade lineage a second time (no DAG-level CSE).
    """
    status = (
        F.when(F.col("rejected"), "rejected")
        .when(F.col("guard_skip_kind").isNotNull(), "skipped")
        .when(F.col("evicted"), "skipped")
        .when(F.col("set_skip_kind").isNotNull(), "skipped")
        .when(F.col("applied_strategy") == "single", "unique")
        .when(F.col("selected"), "selected")
        .otherwise("discarded")
    )
    set_outcome = (
        F.when(F.col("guard_skip_kind").isNotNull(),
               F.concat(F.lit("skipped_"), F.col("guard_skip_kind")))
        .when(F.col("set_skip_kind").isNotNull(),
              F.concat(F.lit("skipped_"), F.col("set_skip_kind")))
        .when(F.col("applied_strategy") == "single", "single")
        .when(F.col("applied_strategy").isNotNull(), "deduplicated")
    )
    # The rep is the min non-rejected url of the set (a rejected row can never
    # take the rep slot). Sharded groupBy + join-back (groupagg), not a
    # WindowExec: a mega-set's rep lookup is map-side combined.
    if rep_stats is not None:
        joined = df.join(
            rep_stats.withColumnRenamed("cluster_key", "_gs_cluster_key"),
            on=F.col("cluster_key").eqNullSafe(F.col("_gs_cluster_key")),
            how="left",
        ).drop("_gs_cluster_key")
    else:
        joined = with_group_stats(df, "cluster_key", [
            F.min(F.when(~F.col("rejected"), F.col("url"))).alias("_rep_url"),
        ])
    set_rep = (~F.col("rejected")) & (F.col("url") == F.col("_rep_url"))
    return (
        joined.withColumn("status", status)
        .withColumn("set_outcome", set_outcome)
        .withColumn("set_rep", F.coalesce(set_rep, F.lit(False)))
        .drop("_rep_url")
    )


def run_exact(pages: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Exact-dup pipeline: normalized content hash as the cluster key.

    Per-group decisions (guards, cascade, set_rep) are all two-phase
    groupBy + join-back (groupagg) — partial aggregation shards skewed
    clusters; no single-task WindowExec anywhere in the tail.
    """
    ann = with_cluster_key(annotate(pages, cfg))
    return _group_and_select(ann, cfg)


def run_clustered(pages: DataFrame, cfg: DedupConfig,
                  clusters: DataFrame) -> DataFrame:
    """Near-dup pipeline tail: ``clusters`` maps url -> cluster_key (from
    MinHash-LSH / SimHash / union-find). Rows absent from ``clusters`` are
    singletons keyed by their own content hash."""
    ann = annotate(pages, cfg)
    joined = ann.join(clusters.select("url", "cluster_key"), on="url", how="left")
    keyed = joined.withColumn(
        "cluster_key",
        F.when(F.col("rejected"), F.col("url")).otherwise(
            F.coalesce(F.col("cluster_key"), F.col("content_hash"), F.col("url"))
        ),
    )
    return _group_and_select(keyed, cfg)


def _group_and_select(ann: DataFrame, cfg: DedupConfig) -> DataFrame:
    # Dehydration (ref mail.py:228-262): the raw payload column never enters
    # the dedup working set — at web scale `html` dwarfs everything else and
    # would ride every shuffle. Actions re-hydrate by url (ref mail.py:264-294).
    from pyspark import StorageLevel

    from .cache import track

    ann = ann.drop("html")
    # Materialize once: guards' verdict branch and the main spine both read
    # this frame, and Spark recomputes shared subtrees. Scope-released only
    # (cache.track), like the returned final frame, which the caller
    # materializes after this returns — wrap the whole unit of work in
    # cache.cache_scope() (as cli.main does) to reclaim them.
    ann = track(ann.persist(StorageLevel.MEMORY_AND_DISK))

    # ONE per-set aggregation pass feeds both the guard short-circuit and
    # label_outcomes' set rep: both read only pre-guard columns
    # (cluster_key, n_bytes, raw_hash, rejected, url), so folding them
    # into a single sharded groupBy saves a full corpus aggregation AND
    # keeps the label stage from re-deriving the guard+cascade lineage in
    # its stats branch. The frame is one slim row per set — persisted,
    # scope-released with the rest.
    from .guards import guard_group_aggs

    st_, ct_ = cfg.size_threshold, cfg.content_threshold
    set_aggs = [
        F.min(F.when(~F.col("rejected"), F.col("url"))).alias("_rep_url")]
    guards_on = st_ >= 0 or ct_ >= 0
    if guards_on:
        set_aggs = guard_group_aggs(cfg) + set_aggs
    set_stats = track(
        ann.groupBy("cluster_key").agg(*set_aggs)
        .persist(StorageLevel.MEMORY_AND_DISK))

    # One linear plan, no branch-and-union (each branch would recompute the
    # whole upstream): rejected rows carry their own url as cluster_key so
    # they never pollute a real group's windows, guards attach verdicts via a
    # left join, and the cascade excludes non-pool rows by column algebra.
    guarded = apply_guards(
        ann, cfg,
        group_stats=(set_stats.drop("_rep_url") if guards_on else None))

    # The cascade runs on the post-eviction pool of guard-passing sets
    # (ref deduplicate.py:449-456: eviction reduces the pool, then strategies
    # apply to the remainder).
    participates = (
        ~F.col("rejected")
        & ~F.col("evicted")
        & F.col("guard_skip_kind").isNull()
    )
    cascaded = apply_cascade(guarded, cfg, ts_col=cfg.ts_col,
                             participates=participates)
    # The result is persisted here, lazily: a verb reads it once per report
    # and once per action (compute_stats' agg, then perform's write), and
    # without the cache each of them re-runs the guard + cascade + label
    # tail. The verb's first action fills it; it is scope-released like
    # `ann` and `set_stats`.
    return track(label_outcomes(
        cascaded, rep_stats=set_stats.select("cluster_key", "_rep_url"))
        .persist(StorageLevel.MEMORY_AND_DISK))


def run_incremental(pages: DataFrame, cfg: DedupConfig, checkpoint_path: str,
                    mode: str = "minhash") -> DataFrame:
    """Checkpoint-backed run: signatures come from the fingerprinted
    checkpoint (anti-join resume, ref cache.py / SURVEY §3.3) — unchanged rows
    are restored, changed/new rows re-signed, and the checkpoint is committed
    atomically for the next run. A run killed after the signature stage
    resumes here with zero recompute (the reference's warm-cache path,
    ref docs/performance.md:17)."""
    from .checkpoint import signatures_with_checkpoint

    sigs = signatures_with_checkpoint(pages, cfg, checkpoint_path)
    if mode == "exact":
        clusters = sigs.select(
            "url", F.col("content_hash").alias("cluster_key"))
    elif mode == "minhash":
        from .minhash import minhash_clusters

        clusters = minhash_clusters(pages, cfg, sigs=sigs)
    elif mode == "simhash":
        from .simhash import simhash_clusters

        clusters = simhash_clusters(pages, cfg, sigs=sigs)
    else:
        raise ValueError(f"unknown incremental mode: {mode!r}")
    return run_clustered(pages, cfg, clusters)


@dataclass
class RunResult:
    final: DataFrame
    stats: dict[Stat, int]


def run_and_check(pages: DataFrame, cfg: DedupConfig,
                  action: str | None = None) -> RunResult:
    """Full run + the reference's invariant self-check (exit-115 analog:
    raises StatsInconsistency)."""
    final = run_exact(pages, cfg)
    stats = compute_stats(final)
    check_stats(stats, action=action)
    return RunResult(final=final, stats=stats)


def in_selection() -> Column:
    """Rows the action targets for *-selected verbs: unique + selected
    (ref action.py:312-339, check_stats accounting deduplicate.py:1369-1380)."""
    return F.col("status").isin("unique", "selected")
