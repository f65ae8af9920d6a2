"""Size/content threshold guards + greedy outlier eviction.

Re-expresses ``DuplicateSet.check_differences`` (ref deduplicate.py:270-359):

1. **Set-level short-circuit, in column algebra** (ref deduplicate.py:292-301):
   a group passes wholesale when its size spread is within threshold AND
   (content check disabled OR all members share one raw body hash). Deciding
   this is one sharded aggregation pass (groupagg.with_group_stats); a set of
   true copies never walks the pairs — the property the reference
   regression-tests (tests/test_performance.py:316-341). At web scale this is
   what makes boilerplate mega-clusters O(n) — and sharded, not one task.

2. **Greedy eviction, in a grouped ``applyInArrow``** — only for the (rare)
   groups failing the short-circuit: pairwise offenses with diff memoized
   per body-hash pair (ref deduplicate.py:304-326), then evict the member
   with the most offending pairs, ties broken on the row key for
   determinism (ref deduplicate.py:343-358), until no offending pair
   remains. If fewer than 2 members would survive, the
   whole set is skipped — 'size' when any size offense fired, else 'content'
   (ref deduplicate.py:349-358, SizeDiffAboveThreshold/ContentDiffAboveThreshold).

Content distance is the reference's exact metric: ``len("".join(unified_diff(
lines_a, lines_b, fromfile='a', tofile='b', n=0, lineterm='\\n')))``
(ref deduplicate.py:361-382).

Scale guard beyond the reference: a group bigger than ``max_eviction_group``
members that *still* fails the short-circuit would cost O(n^2) pairs; such
groups are skipped outright with kind 'size' (spread breach) or 'content',
and counted — a documented divergence that bounds worst-case work.
"""

from __future__ import annotations

from difflib import unified_diff

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .config import DedupConfig
from .groupagg import with_group_stats

MAX_EVICTION_GROUP = 5000

_EVICT_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("evicted", T.BooleanType(), False),
    T.StructField("guard_skip_kind", T.StringType(), True),
])


def _diff_len(lines_a: list[str], lines_b: list[str]) -> int:
    """Reference content distance (ref deduplicate.py:361-382)."""
    return len(
        "".join(
            unified_diff(
                lines_a, lines_b,
                fromfile="a", tofile="b", fromfiledate="", tofiledate="",
                n=0, lineterm="\n",
            )
        )
    )


def _evict_group(group: pa.Table, size_threshold: int, content_threshold: int,
                 max_group: int) -> pa.Table:
    """Greedy eviction for one group (ref deduplicate.py:304-359): its
    (url, n_bytes, raw_hash, text) rows -> (url, evicted, guard_skip_kind).

    Computed at BODY-CLASS granularity: members sharing ``raw_hash`` have
    identical text (and so identical size and offenses) — offenses are
    decided once per class pair (the reference's per-body-pair diff
    memoization taken to its conclusion, ref deduplicate.py:307-326), and
    the node-level greedy loop is simulated exactly over class counts. A
    whitespace-jitter mega-cluster with m distinct bodies costs
    O(n + m^2 diffs) instead of O(n^2) Python pair iterations; the
    all-distinct worst case stays bounded by ``max_group``.

    Equivalence with the node-level greedy (pinned by a property test):
    degree(u) = number of offending neighbor NODES = sum of counts of
    offending classes; within a class, the min url is always the next
    eviction candidate; no two members of one class ever offend each other
    (same text, same size).
    """
    urls = group.column("url").to_pylist()
    n = len(urls)

    def verdicts(evicted=frozenset(), kind=None) -> pa.Table:
        return pa.table({
            "url": group.column("url"),
            "evicted": pa.array([u in evicted for u in urls], pa.bool_()),
            "guard_skip_kind": pa.array([kind] * n, pa.string()),
        })

    if n > max_group:
        lo, hi = pc.min_max(group.column("n_bytes")).values()
        size_breach = (size_threshold >= 0
                       and hi.as_py() - lo.as_py() > size_threshold)
        return verdicts(kind="size" if size_breach else "content")

    # class decomposition: raw_hash -> (sorted member urls, size, text)
    members: dict[str, list[str]] = {}
    csize: dict[str, int] = {}
    ctext: dict[str, str] = {}
    for url, size, body, text in zip(
            urls, *(group.column(c).to_pylist()
                    for c in ("n_bytes", "raw_hash", "text"))):
        members.setdefault(body, []).append(url)
        csize[body] = size
        ctext[body] = text
    classes = sorted(members)
    for c in classes:
        members[c].sort()

    adj: dict[str, set[str]] = {c: set() for c in classes}
    size_offense = False
    for i, a in enumerate(classes):
        for b in classes[i + 1:]:
            offense = False
            if size_threshold >= 0 and abs(csize[a] - csize[b]) > size_threshold:
                offense = size_offense = True
            if not offense and content_threshold >= 0:
                if _diff_len(ctext[a].split("\n"),
                             ctext[b].split("\n")) > content_threshold:
                    offense = True
            if offense:
                adj[a].add(b)
                adj[b].add(a)

    if not any(adj.values()):
        return verdicts()  # no offending pair anywhere — common case

    counts = {c: len(members[c]) for c in classes}
    heads = {c: 0 for c in classes}  # next-eviction pointer into members[c]
    evicted: list[str] = []
    while True:
        best = None  # (neg_degree, head_url, class)
        for c in classes:
            if counts[c] == 0:
                continue
            deg = sum(counts[d] for d in adj[c])
            if deg == 0:
                continue
            key = (-deg, members[c][heads[c]])
            if best is None or key < best[0]:
                best = (key, c)
        if best is None:
            break
        c = best[1]
        evicted.append(members[c][heads[c]])
        heads[c] += 1
        counts[c] -= 1

    if evicted and n - len(evicted) < 2:
        return verdicts(kind="size" if size_offense else "content")
    return verdicts(evicted=set(evicted))


def guard_group_aggs(cfg: DedupConfig) -> list:
    """The per-set aggregates the guard short-circuit reads — exposed so a
    caller computing other per-set scalars on the same frame can fold them
    into ONE groupBy pass and hand the result to ``apply_guards`` via
    ``group_stats`` (pipeline._group_and_select does: guards + set-rep in
    one aggregation instead of two full passes over the corpus)."""
    return [
        F.count(F.lit(1)).alias("_gd_n"),
        F.min("n_bytes").alias("_gd_min_b"),
        F.max("n_bytes").alias("_gd_max_b"),
        F.min("raw_hash").alias("_gd_min_h"),
        F.max("raw_hash").alias("_gd_max_h"),
    ]


def apply_guards(df: DataFrame, cfg: DedupConfig, key: str = "cluster_key",
                 group_stats: DataFrame | None = None) -> DataFrame:
    """Annotate rows with ``evicted`` (bool) and ``guard_skip_kind``
    ('size' | 'content' | null = whole-set skip).

    A guard-failing cluster larger than ``cfg.max_eviction_group`` (default
    MAX_EVICTION_GROUP) is skip-accounted WHOLE
    (every member keeps evicted=False and gets guard_skip_kind — never
    silently truncated), bounding the pairwise diff at O(bound^2).

    Expects columns: url, text, n_bytes, raw_hash, ``key``.
    Only groups failing the linear short-circuit enter the Arrow kernel; the
    filter-gate is sharded column algebra (``with_group_stats``: partial
    groupBy + join-back, never a single-task WindowExec — a boilerplate
    mega-cluster's extremes are map-side combined), so the common case never
    leaves the JVM. The group-stats join lives only inside the verdicts
    branch; the returned spine is just ``df ⋈(url) verdicts``.
    """
    st, ct = cfg.size_threshold, cfg.content_threshold
    cap = cfg.max_eviction_group
    if st < 0 and ct < 0:
        return df.withColumn("evicted", F.lit(False)).withColumn(
            "guard_skip_kind", F.lit(None).cast("string"))

    # Single-distinct test with O(1) aggregation state: min==max over non-null
    # hashes. A collect_set here would materialize every distinct raw hash of
    # a group — O(n) memory on exactly the skewed mega-cluster (boilerplate +
    # whitespace jitter) the engine must survive. raw_hash is non-null for all
    # non-rejected rows; all-null groups fail the short-circuit (coalesce
    # False), matching collect_set-size==1 semantics.
    # ``group_stats`` (a precomputed (key, guard_group_aggs...) frame) lets
    # the caller share one aggregation pass across guards and other per-set
    # scalars; the join below is the same null-safe join-back
    # with_group_stats performs.
    if group_stats is not None:
        tmp = f"_gs_{key}"
        flagged = df.join(
            group_stats.withColumnRenamed(key, tmp),
            on=F.col(key).eqNullSafe(F.col(tmp)), how="left",
        ).drop(tmp)
    else:
        flagged = with_group_stats(df, key, guard_group_aggs(cfg))
    spread_ok = (
        F.lit(st < 0)
        | ((F.col("_gd_max_b") - F.col("_gd_min_b")) <= F.lit(st))
    )
    one_body = F.coalesce(
        F.col("_gd_min_h") == F.col("_gd_max_h"), F.lit(False))
    passes = (F.col("_gd_n") == 1) | (spread_ok & (F.lit(ct < 0) | one_body))

    def run(group: pa.Table) -> pa.Table:
        return _evict_group(group, st, ct, cap)

    # Verdicts exist only for rows of suspicious groups; everyone else gets
    # the defaults through the left join — no branch-and-union, so the
    # upstream plan is computed once. The verdict frame is persisted (slim:
    # one row per suspicious-group member) because downstream per-set
    # aggregations re-derive their input subtree (no DAG-level CSE) — e.g.
    # the cascade's group-stats branch joins the guarded frame twice, and
    # without the persist each re-derivation re-runs the Python eviction
    # kernel (two FlatMapGroupsInArrow nodes in the exact-pipeline plan).
    from pyspark import StorageLevel

    from .cache import track

    verdicts = track(
        flagged.filter(~passes)
        .select("url", "n_bytes", "raw_hash", "text", key)
        .groupBy(key)
        .applyInArrow(run, schema=_EVICT_SCHEMA)
        .select("url", "evicted", "guard_skip_kind")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    return (
        df.join(verdicts, on="url", how="left")
        .withColumn("evicted", F.coalesce(F.col("evicted"), F.lit(False)))
    )
