"""Scoped lifecycle for library-internal persisted frames.

Several operators persist() intermediate frames because Spark has no
DAG-level CSE (signatures feed banding + the scorer's payload joins, bucket
sizes feed the cold and hot branches, ...). Those persists used to live for
the whole session: every LSH invocation — and each run of an incremental /
daemon loop — leaked one cached frame (ADVICE r2). The fix is scope-based:

- library code registers each persist with :func:`track`;
- a :func:`cache_scope` context manager unpersists everything tracked
  inside it on exit — used by the clusterers (minhash_clusters,
  simhash_clusters, embedding_dup_clusters), whose results are
  localCheckpoint-materialized by the union-find fixpoint before the scope
  closes, so the upstream caches are dead weight the moment they return;
- without an active scope, track() is a no-op and the persist lives for
  the session (the right default for a caller who holds the returned lazy
  frame, e.g. minhash_edges used directly).

Long-running callers (daemons, notebooks) can wrap any unit of work::

    from pysparkdedup.cache import cache_scope
    with cache_scope():
        final = run_exact(pages, cfg)          # lazily persisted, no job
        stats = compute_stats(final)           # fills the cache
        perform(final, "copy-selected", out)   # the write reads it

Driver-side, single-threaded by design (a plain module-level stack — Spark
driver orchestration code runs on one thread here).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame

_SCOPES: list[list[DataFrame]] = []


def track(df: DataFrame) -> DataFrame:
    """Register a library-persisted frame with the innermost active scope
    (no-op without one). Returns the frame for call-chaining."""
    if _SCOPES:
        _SCOPES[-1].append(df)
    return df


@contextmanager
def cache_scope():
    """Unpersist every frame track()ed within the block on exit.

    Only enter one around work whose *returned* frames no longer read the
    tracked caches (or whose consumers accept a recompute): unpersist is
    always correctness-safe, it just forfeits reuse."""
    frames: list[DataFrame] = []
    _SCOPES.append(frames)
    try:
        yield frames
    finally:
        _SCOPES.pop()
        for df in frames:
            try:
                df.unpersist(blocking=False)
            except Exception:  # session already stopped — nothing to free
                pass
