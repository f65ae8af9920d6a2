"""Union-find connected components as an iterated DataFrame fixpoint.

No Spark built-in exists (GraphFrames is external); this is alternating
min-label propagation: every node repeatedly adopts the smallest label among
itself and its neighbors until no label changes. Near-dup graphs built from
star-shaped bucket pairs (pairs.py) have tiny diameter, so convergence is
2-4 iterations in practice; ``max_iter`` bounds pathological chains.

Execution is ADAPTIVE on the edge count (one LIMIT-(K+1) probe job that
also fetches the rows): small graphs are solved by a driver-side
union-find over the collected slim (a, b) pairs — identical
min-labels, zero fixpoint barriers — because below ~10^6 edges the
distributed fixpoint's cost is purely job-scheduling/checkpoint latency
(~2 s wall for a 1-edge graph, measured); large graphs run the
distributed fixpoint unchanged. Same philosophy as AQE's runtime
broadcast decision: pick the physical strategy from the actual size.

Scale notes:
- each materialized iteration fuses TWO min-label propagation steps (the
  fixpoint is confluent, so step grouping cannot change the result) — job
  scheduling + checkpoint latency, not shuffle volume, dominates the
  fixpoint, and the double stride halves the barrier count;
- label frames are localCheckpoint()ed to truncate lineage so the plan
  does not grow with iterations;
- convergence detection is FUSED into the materialization: an ``observe``
  (CollectMetrics) node sums the second step's changed labels during the
  checkpoint job, so no second per-iteration count job exists — one job per
  double-step, full stop (this is pure fixed-cost: it is what stops
  amortizing at small corpora, see BENCH.md scaling analysis);
- labels are min-url strings: deterministic at any parallelism, no
  64-bit-id collision risk at 10^12 nodes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Below this many edges the distributed fixpoint is pure barrier overhead:
# each double-step is a multi-stage shuffle job (~0.5-1 s of scheduling +
# AQE + checkpoint latency at ANY data size — measured ~2 s wall for a
# 1-edge graph), while a driver-side union-find over the slim (a, b)
# string pairs is milliseconds. The cutoff is MEASURED, not guessed
# (star-cluster graphs of url-shaped labels, local[8], 2026-08-18):
# driver vs distributed = 4.1s vs 6.4s at 200k edges, 6.4 vs 3.3 at
# 500k, 11.4 vs 4.8 at 1M, 23.5 vs 6.4 at 2M — collect+pickle+unpickle
# grows linearly (~11 s/M edges) while the fixpoint stays near-flat, so
# the crossover sits at ~250k. That size also keeps the collected rows
# well under any sane spark.driver.memory (tens of MB, broadcast-dim
# territory). Big graphs take the distributed path unchanged (AQE
# broadcast-threshold philosophy).
SMALL_GRAPH_EDGES = 250_000


def _driver_union_find(edge_rows, url_type) -> tuple[list, T.StructType]:
    """Classic path-compressed union-find over collected (a, b) pairs;
    labels = min member per component — EXACTLY the fixpoint's result
    (UTF-8 byte order equals code-point order, so Python min over strings
    matches Spark's string ordering)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in edge_rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    roots: dict = {}
    for v in parent:
        r = find(v)
        m = roots.get(r)
        if m is None or v < m:
            roots[r] = v
    rows = [(v, f"cc:{roots[find(v)]}") for v in parent]
    schema = T.StructType([
        T.StructField("url", url_type, True),
        T.StructField("cluster_key", T.StringType(), True),
    ])
    return rows, schema


def value_component_labels(value_edges: DataFrame, vals: DataFrame,
                           value_col: str) -> DataFrame:
    """(value, cluster_key) for every distinct signature value that is in
    a component — the exact-duplicate contraction of the image dHash
    clusterer. Callers LEFT-join it on the value column.

    Ids sharing one 64-bit signature value are at Hamming distance 0, so
    they are ALWAYS one cluster; running candidate generation, verify and
    the component fixpoint over distinct values (hundreds) instead of ids
    (millions at corpus scale) shrinks the pair explosion quadratically
    while provably preserving the output: the id-level graph is the value
    graph with each value blown up into a clique, so contracting it cannot
    merge or split a component. Blocking keys and the bit_count verify are
    pure functions of the value, hence identical in value space.

    - ``value_edges`` : (a, b) verified edges between distinct values;
    - ``vals``        : (value, _n, _vmin) — per-value id count and min id
                        (the caller computes it for blocking anyway);
    - returns (value_col, cluster_key) with cluster_key = 'cc:' + min id
      of the component, exactly the uncontracted contract: a value is
      labelled when it has >= 2 ids (an exact-duplicate clique is a
      component even with no cross-value edge) or participates in a
      verified edge.
    """
    comp = connected_components(value_edges)
    vlab = (
        vals.join(
            comp.select(F.col("url").alias(value_col),
                        F.col("cluster_key").alias("_grp")),
            value_col, "left")
        # internal group id: the value component's label, or the value
        # itself for a same-value-only clique ('cc:'-prefixed labels can
        # never collide with a bare numeric value string)
        .withColumn(
            "_grp",
            F.coalesce(
                F.col("_grp"),
                F.when(F.col("_n") >= 2, F.col(value_col).cast("string"))))
        .filter(F.col("_grp").isNotNull())
    )
    gmin = vlab.groupBy("_grp").agg(F.min("_vmin").alias("_gmin"))
    return vlab.join(gmin, "_grp").select(
        value_col,
        F.concat(F.lit("cc:"), F.col("_gmin")).alias("cluster_key"))


def materialize(df: DataFrame, reliable: bool = False) -> DataFrame:
    """Eagerly materialize ``df`` and truncate its lineage: cluster-durable
    ``checkpoint()`` when ``reliable``, executor-local
    ``localCheckpoint()`` otherwise."""
    if reliable:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def connected_components(edges: DataFrame, a_col: str = "a", b_col: str = "b",
                         max_iter: int = 25,
                         on_nonconverged: str = "raise",
                         reliable: bool = False,
                         small_graph_edges: int = SMALL_GRAPH_EDGES
                         ) -> DataFrame:
    """edges (a, b) -> (url, cluster_key) with cluster_key = min url of the
    component. Only nodes that appear in an edge are returned.

    Adaptive execution: one LIMIT-(K+1) collect both sizes the graph and
    fetches its rows; at or below ``small_graph_edges`` the components are
    solved by a driver-side union-find over the collected slim pairs
    (identical labels, no fixpoint barriers — see SMALL_GRAPH_EDGES),
    above it by the distributed min-label fixpoint. Pass
    ``small_graph_edges=0`` to force the distributed path.

    If ``max_iter`` is exhausted before the fixpoint (a long-diameter chain
    graph — containment/ngram edges can produce them), the labels would be
    silently split components; ``on_nonconverged`` makes that observable:
    'raise' (default) aborts, 'warn' emits a warning with the residual
    changed-label count and returns the partial labels.

    ``reliable=True`` materializes the edges and each fixpoint iteration
    with ``checkpoint()`` (to ``spark.sparkContext.setCheckpointDir``,
    i.e. HDFS/object storage on a cluster) instead of
    ``localCheckpoint()``; a driver-solved graph writes no checkpoint.
    localCheckpoint blocks live in executor storage and die with a lost
    executor — fatal mid-fixpoint on a real cluster; the default stays
    local for single-JVM runs where it is both safe and cheaper."""

    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")

    # Persist the edge input once: the symmetric union references it twice,
    # and Spark recomputes shared subtrees (no DAG-level CSE) — for LSH
    # edges that would mean running candidate generation + verification
    # twice. A LIMIT-(K+1) collect through the persist answers "is this
    # graph small?" AND fetches its rows in ONE incremental job
    # (CollectLimit scans partitions progressively and stops at K+1). A
    # small graph is solved on the driver, so it needs no checkpoint, not
    # even under ``reliable``: no fixpoint runs that could lose it.
    from pyspark import StorageLevel

    from .cache import track

    spark = edges.sparkSession
    edges = track(
        edges.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    sample = None
    if small_graph_edges > 0:
        sample = edges.limit(small_graph_edges + 1).collect()
        if len(sample) > small_graph_edges:
            sample = None
    if sample is None:
        # Large graph: truncate the edge lineage before the fixpoint
        # (iteration plans reference the edges twice per step; without the
        # checkpoint each re-plan re-optimizes the full candidate lineage).
        # Reads through the probe's partial cache.
        edges = materialize(edges, reliable)

    if sample is not None:
        url_type = edges.schema["a"].dataType
        rows, schema = _driver_union_find(
            ((r["a"], r["b"]) for r in sample), url_type)
        if not rows:
            return spark.createDataFrame([], schema)
        import pyarrow as pa

        # An Arrow table skips the pickled-tuples parallelize (measured ~2x
        # slower for the typical driver-graph result size).
        urls, keys = zip(*rows)
        return spark.createDataFrame(
            pa.table({"url": list(urls), "cluster_key": list(keys)}), schema)
    # No distinct(): min-aggregation is idempotent over duplicate edges, and
    # the dedup shuffle would cost more than it saves.
    sym = edges.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(
        edges.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )

    # Seed labels with the first propagation fused in: label(v) =
    # min(v, min(neighbors)) — saves one full iteration on star graphs.
    labels = materialize(
        sym.groupBy("dst")
        .agg(F.min("src").alias("nmin"))
        .select(
            F.col("dst").alias("url"),
            F.least(F.col("dst"), F.col("nmin")).alias("label"),
        ),
        reliable,
    )

    def propagate(lbl: DataFrame) -> DataFrame:
        neighbor_min = (
            sym.join(lbl.withColumnRenamed("url", "src"), on="src")
            .groupBy("dst")
            .agg(F.min("label").alias("nmin"))
            .withColumnRenamed("dst", "url")
        )
        return (
            lbl.join(neighbor_min, on="url", how="left")
            .withColumn("new_label", F.least("label", F.col("nmin")))
        )

    for it in range(0, max_iter, 2):
        # TWO propagation steps fused into one materialization: min-label
        # propagation is confluent (the fixpoint is the component min
        # regardless of step grouping), so doubling the stride halves the
        # per-iteration barriers — job scheduling + checkpoint latency is
        # the dominant fixpoint cost at every scale (the shuffled frames
        # are AQE-coalesced and small relative to the edge set). The
        # changed-label sum of the SECOND step rides the checkpoint job as
        # an observe (CollectMetrics) node — zero extra jobs; step-2
        # unchanged implies step-1 already reached the fixpoint.
        once = propagate(labels).select("url", F.col("new_label").alias("label"))
        obs = Observation(f"cc_changed_{it}")
        labels = materialize(
            propagate(once)
            .observe(obs, F.sum(
                (F.col("new_label") != F.col("label")).cast("long")
            ).alias("changed"))
            .select("url", F.col("new_label").alias("label")),
            reliable,
        )
        changed = obs.get["changed"] or 0  # None on an empty frame
        if changed == 0:
            break
    else:
        msg = (f"connected_components did not converge in {max_iter} "
               f"iterations ({changed} labels still changing) — returned "
               f"cluster keys would split long-diameter components; raise "
               f"max_iter")
        if on_nonconverged == "raise":
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)

    return labels.select(
        "url", F.concat(F.lit("cc:"), F.col("label")).alias("cluster_key")
    )
