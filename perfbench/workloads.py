"""The benchmark's three workloads.

Each workload is a set-up step and an iteration. An iteration times calls
into the package's public functions on inputs read from parquet, stops the
clock, then scores what the calls wrote against the planted truth. The
untraced iteration only tags each public call with a job group; the traced
one also records spans, and on ``crawl_neardup`` splits the lazy layers
with persist + count laps the way ``bench.py``'s ``_minhash_stage_times``
does.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import zlib
from dataclasses import dataclass, field
from unittest import mock

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import functions as F

from pysparkdedup import tiers
from pysparkdedup.cache import cache_scope, track
from pysparkdedup.config import DedupConfig
from pysparkdedup.corpus import pages_and_truth

from . import score
from .status import (Tracer, last_stage_id, layer_metrics, read_window,
                     untagged_run_ms)

CFG = DedupConfig(strategies=("select-newest", "select-one"))

# Keep-first paragraph dedup is left off: it empties every later copy of an
# exact group and strips the shared lines of near-dup pairs, so the planted
# pairs would no longer be duplicates after curation and recall would be
# undefined. drop_empty removes docs the boilerplate stage emptied (the
# boilerplate mega-group) before the cascade.
CURATE = dict(max_dup_gram_frac=0.15, boilerplate_min_df=5, redact=True,
              drop_empty=True, line_mode="chunk")

# Every workload reads the same (CORPUS_DOCS, seed) corpus; the iterations
# are dominated by per-job scheduling, so a bigger corpus mostly adds
# Python-kernel time without steadying the figures.
CORPUS_DOCS = 4_000

EMB_DIM = 16
EMB_NOISE = 0.05  # same-group cosine ~0.997, well above the 0.95 threshold

LAYERS = {
    "crawl_neardup": ["minhash", "pairs", "components", "pipeline", "stats",
                      "actions"],
    "train_pipeline": ["curate", "tiers.exact", "tiers.near", "similarity",
                       "tiers.ledger"],
    "incremental_crawl": ["checkpoint", "crosscorpus"],
}
ALL_LAYERS = [name for names in LAYERS.values() for name in names]
LAYER_FIELDS = {  # metric -> unit; BENCHMARK.json says which way is better
    "wall_s": "s", "self_s": "s", "jobs": "count", "tasks": "count",
    "task_core_s": "s", "shuffle_write_mb": "MB", "shuffle_read_mb": "MB",
    "spill_mb": "MB",
}
OUTCOMES = {
    "pairs.candidate_pairs": "count",
    "minhash.verified_edges": "count",
    "minhash.verify_yield": "ratio",
    "components.clusters": "count",
    "actions.rows_written": "count",
    "curate.docs_dropped": "count",
    "tiers.exact.dropped": "count",
    "tiers.near.dropped": "count",
    "similarity.dropped": "count",
    "tiers.kept": "count",
    "checkpoint.recomputed": "count",
    "checkpoint.bytes_written": "bytes",
    "crosscorpus.exact_dup": "count",
    "crosscorpus.near_dup": "count",
}

# tiered_dedup calls on_stage(tier) after each tier's loser map is
# materialized: that ends the tier's layer and opens the next one.
_NEXT_AFTER_TIER = {"exact": "tiers.near", "near": "similarity",
                    "semantic": "tiers.ledger"}


@dataclass
class Ctx:
    """Inputs and scratch space of one workload in one process."""

    spark: object
    corpus: str
    scratch: str
    truth: pd.DataFrame
    n_docs: int  # docs one iteration takes as input
    old_ckpt: str | None = None
    old_urls: pd.Series | None = None
    _seq: int = 0

    def path(self, name: str) -> str:
        return os.path.join(self.corpus, name)

    def fresh(self, name: str) -> str:
        self._seq += 1
        return os.path.join(self.scratch, f"{name}-{self._seq}")


@dataclass
class Result:
    wall_s: float = 0.0
    run_ms: int = 0
    digest: tuple = ()
    scores: dict = field(default_factory=dict)
    problems: list = field(default_factory=list)
    layers: dict = field(default_factory=dict)
    counts: dict = field(default_factory=dict)
    spans: list = field(default_factory=list)


class Clock:
    """Wall clock plus the stage-id window of one iteration's timed part."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.lo = last_stage_id(tracer.sc)
        tracer.sc.setJobGroup(tracer.run_id, tracer.run_id)
        self.t0 = time.perf_counter()

    def stop(self) -> None:
        self.wall = time.perf_counter() - self.t0
        sc = self.tracer.sc
        post = self.tracer.run_id + ".post"
        sc.setJobGroup(post, post)
        self.hi = last_stage_id(sc)


def _finish(clock: Clock, res: Result) -> Result:
    tracer = clock.tracer
    win = read_window(tracer.sc, clock.lo, clock.hi)
    res.wall_s = clock.wall
    res.run_ms = win.total.run_ms
    res.layers = layer_metrics(tracer, win, ALL_LAYERS)
    res.spans = tracer.span_dump()
    stray = untagged_run_ms(tracer, win)
    if stray:
        res.problems.append(
            f"{stray} executor ms ran outside every layer's job group")
    return res


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


# -- corpus ------------------------------------------------------------------

def _embeddings(truth: pd.DataFrame, seed: int) -> pd.DataFrame:
    """Hash-derived vectors for the docs of one planted group in ten: one
    random direction per group plus small per-url noise, so a group's
    members are cosine-near and unrelated docs are not."""
    rows = []
    for url, cluster in zip(truth["url"], truth["true_cluster"]):
        if zlib.crc32(f"{seed}:{cluster}".encode()) % 10:
            continue
        base = np.random.default_rng([seed, int(cluster)]).normal(size=EMB_DIM)
        noise = np.random.default_rng(
            [seed, zlib.crc32(url.encode())]).normal(size=EMB_DIM)
        v = base / np.linalg.norm(base) + EMB_NOISE * noise / np.sqrt(EMB_DIM)
        rows.append((url, (v / np.linalg.norm(v)).astype(np.float32).tolist()))
    return pd.DataFrame(rows, columns=["vec_id", "embedding"])


def _once(path: str, write) -> str:
    """Run ``write(path)`` unless an earlier workload of this run already
    wrote ``path``."""
    if not os.path.exists(path):
        write(path)
    return path


def prepare_corpus(spark, root: str, n: int, seed: int) -> str:
    """The (n, seed) corpus under ``root``, written once per run and shared
    by the run's workloads; generation is never part of a measured phase.

    It is not cached across runs, so every run starts from the same state:
    generating it is the session's first pandas UDF work, and with a cache
    a run's warm-up would depend on whether an earlier run had written the
    seed's corpus."""
    def write(path: str) -> None:
        pages, truth = pages_and_truth(spark, n, seed)
        pages.write.parquet(os.path.join(path, "pages"))
        truth.write.parquet(os.path.join(path, "truth"))
    return _once(os.path.join(root, f"corpus-n{n}-s{seed}"), write)


def _write_embeddings(spark, truth: pd.DataFrame, seed: int):
    def write(path: str) -> None:
        spark.createDataFrame(
            _embeddings(truth, seed), "vec_id string, embedding array<float>"
        ).write.parquet(path)
    return write


def _write_split(spark, corpus: str):
    # Not crc32(url) parity: CRC is affine over GF(2), and a planted group's
    # urls differ only in the member digit, so crc32 parity puts every small
    # group wholly on one side and no exact or near pair would cross the
    # split. xxhash64 mixes the whole url.
    def write(path: str) -> None:
        pages = spark.read.parquet(os.path.join(corpus, "pages"))
        even = F.pmod(F.xxhash64("url"), F.lit(2)) == 0
        pages.filter(even).write.parquet(os.path.join(path, "old"))
        pages.filter(~even).write.parquet(os.path.join(path, "new"))
    return write


# -- crawl_neardup -------------------------------------------------------------

def _traced_clusters(pages, tracer: Tracer, counts: dict):
    """minhash_clusters split at its public steps (minhash_edges +
    connected_components), each lazy step persisted and counted."""
    from pysparkdedup.components import connected_components
    from pysparkdedup.minhash import (candidate_pairs, estimate_jaccard,
                                      lsh_bands, minhash_signatures)

    disk = StorageLevel.MEMORY_AND_DISK
    with tracer.layer("minhash"):
        sigs = track(minhash_signatures(pages, CFG).select("url", "minhash")
                     .persist(disk))
        sigs.count()
        with tracer.layer("pairs"):
            pairs = track(candidate_pairs(lsh_bands(sigs, CFG), CFG)
                          .persist(disk))
            counts["pairs.candidate_pairs"] = pairs.count()
        scored = track(estimate_jaccard(pairs, sigs, CFG).persist(disk))
        scored.count()
        edges = scored.filter(F.col("jaccard") >= CFG.jaccard_threshold)
        with tracer.layer("components"):
            clusters = connected_components(edges.select("a", "b"))
    return clusters, edges


def crawl_neardup(ctx: Ctx, tracer: Tracer, traced: bool,
                  scored: bool) -> Result:
    from pysparkdedup.actions import perform
    from pysparkdedup.minhash import minhash_clusters
    from pysparkdedup.pipeline import run_clustered
    from pysparkdedup.stats import Stat, check_stats, compute_stats

    spark = ctx.spark
    pages = spark.read.parquet(ctx.path("pages"))
    out = ctx.fresh("copy")
    res = Result()
    with cache_scope():
        clock = Clock(tracer)
        if traced:
            clusters, edges = _traced_clusters(pages, tracer, res.counts)
        else:
            with tracer.layer("minhash"):
                clusters = minhash_clusters(pages, CFG)
        with tracer.layer("pipeline"):
            final = run_clustered(pages, CFG, clusters)
            if traced:
                final = track(final.persist(StorageLevel.MEMORY_AND_DISK))
                final.count()
        with tracer.layer("stats"):
            stats = compute_stats(final)
        with tracer.layer("actions"):
            action = perform(final, "copy-selected", out, pages=pages)
        stats[Stat.MAIL_COPIED] = action["count"]
        check_stats(stats, action="copy-selected")
        clock.stop()

        if scored:
            res.scores = score.pair_scores(final.select(
                "url", F.col("cluster_key").alias("cluster")).toPandas(),
                ctx.truth)
        if traced:
            verified = edges.count()
            res.counts.update({
                "minhash.verified_edges": verified,
                "minhash.verify_yield":
                    verified / max(1, res.counts["pairs.candidate_pairs"]),
                "components.clusters":
                    clusters.select("cluster_key").distinct().count(),
                "actions.rows_written": action["count"],
            })
    written = spark.read.parquet(out).toPandas()
    res.digest = score.digest(written)
    if len(written) != action["count"]:
        res.problems.append(
            f"wrote {len(written)} rows, perform counted {action['count']}")
    shutil.rmtree(out, ignore_errors=True)
    return _finish(clock, res)


# -- train_pipeline ------------------------------------------------------------

def train_pipeline(ctx: Ctx, tracer: Tracer, traced: bool,
                   scored: bool) -> Result:
    from pysparkdedup.tiers import tier_stats
    from pysparkdedup.trainpipe import curate_and_dedup

    spark = ctx.spark
    pages = spark.read.parquet(ctx.path("pages"))
    emb = spark.read.parquet(ctx.path("emb"))
    out = ctx.fresh("ledger")
    res = Result()
    real_tiered = tiers.tiered_dedup

    def tiered_with_layers(*args, **kwargs):
        # curate_and_dedup resolves tiers.tiered_dedup at call time; its own
        # on_stage hook marks the tier boundaries.
        tracer.switch("tiers.exact")
        return real_tiered(
            *args, on_stage=lambda t: tracer.switch(_NEXT_AFTER_TIER[t]),
            **kwargs)

    with cache_scope():
        clock = Clock(tracer)
        with tracer.layer("curate"):
            with mock.patch.object(tiers, "tiered_dedup", tiered_with_layers):
                curated, ledger = curate_and_dedup(
                    pages, CFG, emb=emb, curate_kwargs=CURATE)
            ledger.write.parquet(out)
        clock.stop()
        curated_urls = curated.select("url").toPandas()["url"]
    if "tiers.exact" not in tracer.seen:
        print("perfbench: curate_and_dedup did not call tiers.tiered_dedup; "
              "tier layers are folded into 'curate'", file=sys.stderr)
    written = spark.read.parquet(out)
    ledger_pdf = written.toPandas()
    res.digest = score.digest(ledger_pdf)
    res.problems += score.ledger_problems(ledger_pdf, curated_urls)
    if scored:
        res.scores = score.pair_scores(
            ledger_pdf.rename(columns={"kept_by": "cluster"}), ctx.truth)
    if traced:
        st = tier_stats(written).first()
        res.counts.update({
            "curate.docs_dropped": ctx.n_docs - len(curated_urls),
            "tiers.exact.dropped": st["n_exact"],
            "tiers.near.dropped": st["n_near"],
            "similarity.dropped": st["n_semantic"],
            "tiers.kept": st["n_kept"],
        })
    shutil.rmtree(out, ignore_errors=True)
    return _finish(clock, res)


# -- incremental_crawl ---------------------------------------------------------

def commit_old(ctx: Ctx) -> None:
    """Set-up: the previous crawl's signature checkpoint, with the cross
    dims the warm probe reads."""
    from pysparkdedup.checkpoint import signatures_with_checkpoint

    sc = ctx.spark.sparkContext
    sc.setJobGroup("setup", "setup")
    old = ctx.spark.read.parquet(ctx.path("split/old"))
    ctx.old_ckpt = ctx.fresh("old-ckpt")
    signatures_with_checkpoint(old, CFG, ctx.old_ckpt, commit=True,
                               cross_dims=True)
    ctx.old_urls = old.select("url").toPandas()["url"]


def incremental_crawl(ctx: Ctx, tracer: Tracer, traced: bool,
                      scored: bool) -> Result:
    from pysparkdedup.checkpoint import (SignatureCheckpoint,
                                         signatures_with_checkpoint)
    from pysparkdedup.crosscorpus import dedup_against_checkpoint

    spark = ctx.spark
    new = spark.read.parquet(ctx.path("split/new"))
    ckpt, out = ctx.fresh("new-ckpt"), ctx.fresh("flags")
    res = Result()
    with cache_scope():
        clock = Clock(tracer)
        with tracer.layer("checkpoint"):
            signatures_with_checkpoint(new, CFG, ckpt, commit=True,
                                       cross_dims=True)
        with tracer.layer("crosscorpus"):
            dedup_against_checkpoint(new, ctx.old_ckpt, CFG).write.parquet(out)
        clock.stop()
    flags = spark.read.parquet(out).toPandas()
    res.digest = score.digest(flags)
    if len(flags) != ctx.n_docs:
        res.problems.append(f"{len(flags)} flags for {ctx.n_docs} new docs")
    if scored:
        res.scores = score.flag_scores(flags, ctx.truth, ctx.old_urls)
    if traced:
        status = flags["status"].value_counts()
        res.counts.update({
            "checkpoint.recomputed":
                SignatureCheckpoint(ckpt).last_metrics().recomputed,
            "checkpoint.bytes_written": _dir_bytes(ckpt),
            "crosscorpus.exact_dup": int(status.get("exact_dup", 0)),
            "crosscorpus.near_dup": int(status.get("near_dup", 0)),
        })
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return _finish(clock, res)


@dataclass(frozen=True)
class Workload:
    iterate: object
    setup: object = None
    timed_iterations: int = 1  # see run_workload


WORKLOADS = {
    "crawl_neardup": Workload(iterate=crawl_neardup),
    "train_pipeline": Workload(iterate=train_pipeline),
    # Its iterations are the shortest (4.5 to 8 s); one alone spread by
    # over a quarter across ten seeds on a 4-core shared host, the median
    # of two by under a fifth.
    "incremental_crawl": Workload(iterate=incremental_crawl,
                                  setup=commit_old, timed_iterations=2),
}


def make_ctx(spark, root: str, workload: str, seed: int) -> Ctx:
    """Inputs and scratch space of ``workload`` under the run's ``root``."""
    corpus = prepare_corpus(spark, root, CORPUS_DOCS, seed)
    scratch = os.path.join(root, workload)
    truth = spark.read.parquet(os.path.join(corpus, "truth")).toPandas()
    n_docs = CORPUS_DOCS
    if workload == "train_pipeline":
        _once(os.path.join(corpus, "emb"),
              _write_embeddings(spark, truth, seed))
    if workload == "incremental_crawl":
        split = _once(os.path.join(corpus, "split"),
                      _write_split(spark, corpus))
        n_docs = spark.read.parquet(os.path.join(split, "new")).count()
    os.makedirs(scratch, exist_ok=True)
    return Ctx(spark=spark, corpus=corpus, scratch=scratch, truth=truth,
               n_docs=n_docs)
