"""Near-dup stack tests: pairs, MinHash-LSH, SimHash, union-find, recall."""

import pytest
from pyspark.sql import functions as F

from pysparkdedup.components import connected_components
from pysparkdedup.config import DedupConfig
from pysparkdedup.corpus import pages_and_truth
from pysparkdedup.minhash import (
    candidate_pairs, estimate_jaccard, lsh_bands, minhash_clusters,
    minhash_signatures,
)
from pysparkdedup.pairs import bucket_pairs
from pysparkdedup.simhash import simhash_clusters, simhash_signatures
from tests.conftest import ts


CFG = DedupConfig()


def test_bucket_pairs_cold(spark):
    df = spark.createDataFrame(
        [("k1", "u1"), ("k1", "u2"), ("k1", "u3"), ("k2", "u4")],
        "bkey string, url string",
    )
    pairs = {(r["a"], r["b"]) for r in bucket_pairs(df, ["bkey"]).collect()}
    assert pairs == {("u1", "u2"), ("u1", "u3"), ("u2", "u3")}


def test_bucket_pairs_hot_star(spark):
    """A bucket above cap degrades to a connectivity-preserving star:
    O(n) pairs, every member reachable from the bucket leader."""
    rows = [("hot", f"u{i:03d}") for i in range(50)]
    df = spark.createDataFrame(rows, "bkey string, url string")
    pairs = bucket_pairs(df, ["bkey"], cap=10, nsalt=4).collect()
    assert len(pairs) < 50 * 49 / 2  # far fewer than full pairwise
    # connectivity: union-find over the star pairs puts all 50 in one component
    edges = spark.createDataFrame(
        [(r["a"], r["b"]) for r in pairs], "a string, b string")
    comp = connected_components(edges)
    ncomp = comp.select("cluster_key").distinct().count()
    assert ncomp == 1
    assert comp.count() == 50


def test_connected_components_chain(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e")], "a string, b string")
    got = {
        (r["url"], r["cluster_key"])
        for r in connected_components(edges).collect()
    }
    assert got == {
        ("a", "cc:a"), ("b", "cc:a"), ("c", "cc:a"),
        ("d", "cc:d"), ("e", "cc:d"),
    }


def test_minhash_identical_docs_identical_sigs(pages_factory):
    text = " ".join(f"w{i}" for i in range(60))
    df = pages_factory([
        ("u/a", ts(0), text, "en"),
        ("u/b", ts(1), text, "en"),
        ("u/c", ts(2), "totally different " + " ".join(f"z{i}" for i in range(60)), "en"),
    ])
    sigs = {r["url"]: r["minhash"] for r in minhash_signatures(df, CFG).collect()}
    assert sigs["u/a"] == sigs["u/b"]
    assert sigs["u/a"] != sigs["u/c"]
    assert len(sigs["u/a"]) == CFG.num_perm


def test_minhash_short_doc_null_sig(pages_factory):
    df = pages_factory([("u/short", ts(0), "one two", "en")])
    row = minhash_signatures(df, CFG).collect()[0]
    assert row["minhash"] is None and row["n_shingles"] == 0


def test_lsh_finds_near_pair_and_jaccard_orders(pages_factory):
    base = [f"w{i}" for i in range(200)]
    near = list(base); near[3] = "xx"; near[100] = "yy"  # ~1% edits
    far = list(base)
    for i in range(0, 200, 3):
        far[i] = f"q{i}"  # ~33% edits
    df = pages_factory([
        ("u/base", ts(0), " ".join(base), "en"),
        ("u/near", ts(1), " ".join(near), "en"),
        ("u/far", ts(2), " ".join(far), "en"),
    ])
    sigs = minhash_signatures(df, CFG)
    pairs = candidate_pairs(lsh_bands(sigs, CFG), CFG)
    scored = {
        (r["a"], r["b"]): r["jaccard"]
        for r in estimate_jaccard(pairs, sigs, CFG).collect()
    }
    assert ("u/base", "u/near") in scored
    assert scored[("u/base", "u/near")] > 0.8
    if ("u/base", "u/far") in scored:
        assert scored[("u/base", "u/far")] < scored[("u/base", "u/near")]


def test_simhash_hamming_neighbors(pages_factory):
    base = " ".join(f"word{i}" for i in range(300))
    tweaked = base.replace("word7 ", "word7x ")  # tiny perturbation
    different = " ".join(f"other{i}" for i in range(300))
    df = pages_factory([
        ("u/a", ts(0), base, "en"),
        ("u/b", ts(1), tweaked, "en"),
        ("u/c", ts(2), different, "en"),
    ])
    cfg = DedupConfig()
    clusters = simhash_clusters(df, cfg)
    got = {r["url"]: r["cluster_key"] for r in clusters.collect()}
    assert got.get("u/a") == got.get("u/b") and got.get("u/a") is not None
    assert "u/c" not in got


def test_simhash_identical_signature(pages_factory):
    text = " ".join(f"tok{i}" for i in range(50))
    df = pages_factory([("u/a", ts(0), text, "en"), ("u/b", ts(1), text, "en")])
    rows = {r["url"]: r["simhash"] for r in simhash_signatures(df).collect()}
    assert rows["u/a"] == rows["u/b"] and rows["u/a"] is not None


@pytest.mark.slow
def test_minhash_recall_on_corpus(spark):
    """Dup-pair recall >= 0.99 on kinds the detector claims (exact copies +
    whitespace + near_j>=threshold) — BASELINE.md target, measured on the
    planted corpus ground truth."""
    pages, truth = pages_and_truth(spark, 2000)
    cfg = DedupConfig()
    clusters = minhash_clusters(pages, cfg)

    claimed = truth.filter(
        F.col("dup_kind").isin(
            "exact", "whitespace", "time_ladder", "undated", "same_ts",
            "boilerplate", "near_j095", "near_j09",
        )
    )
    # ground-truth co-clustered pairs, restricted to claimed kinds
    t1 = claimed.alias("t1")
    t2 = claimed.alias("t2")
    truth_pairs = (
        t1.join(t2, F.col("t1.true_cluster") == F.col("t2.true_cluster"))
        .filter(F.col("t1.url") < F.col("t2.url"))
        .select(F.col("t1.url").alias("a"), F.col("t2.url").alias("b"))
    )
    c1 = clusters.alias("c1")
    c2 = clusters.alias("c2")
    found_pairs = (
        c1.join(c2, F.col("c1.cluster_key") == F.col("c2.cluster_key"))
        .filter(F.col("c1.url") < F.col("c2.url"))
        .select(F.col("c1.url").alias("a"), F.col("c2.url").alias("b"))
    )
    total = truth_pairs.count()
    hit = truth_pairs.join(found_pairs, ["a", "b"], "inner").count()
    assert total > 0
    recall = hit / total
    assert recall >= 0.99, f"recall {recall:.4f} ({hit}/{total})"


def test_connected_components_nonconvergence_observable(spark):
    """max_iter exhaustion must not silently return split components
    (ADVICE r1): raise by default, warn-and-return on request."""
    import warnings

    import pytest

    from pysparkdedup.components import connected_components

    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(12)], ["a", "b"])
    # small_graph_edges=0 forces the distributed fixpoint — the driver-side
    # union-find has no iteration limit to observe
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=1,
                             small_graph_edges=0).collect()
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = connected_components(edges, max_iter=1, small_graph_edges=0,
                                   on_nonconverged="warn").collect()
    assert any("did not converge" in str(w.message) for w in caught)
    assert len(out) == 13
    # And with enough iterations the chain converges to one component.
    full = connected_components(edges, max_iter=25,
                                small_graph_edges=0).collect()
    assert {r["cluster_key"] for r in full} == {"cc:n00"}


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """reliable=True materializes iterations via checkpoint() (cluster-safe
    storage) and produces identical components (VERDICT r1: localCheckpoint
    dies with lost executors on a real cluster)."""
    from pysparkdedup.components import connected_components

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], ["a", "b"])
    got = {(r["url"], r["cluster_key"])
           for r in connected_components(edges, reliable=True,
                                         small_graph_edges=0).collect()}
    assert got == {("a", "cc:a"), ("b", "cc:a"), ("c", "cc:a"),
                   ("x", "cc:x"), ("y", "cc:x")}


def test_connected_components_reliable_small_graph_writes_no_checkpoint(
        spark, tmp_path):
    """A graph small enough for the driver union-find runs no fixpoint, so
    reliable=True must neither change its labels nor write a durable
    checkpoint of its edges."""
    from pysparkdedup.components import connected_components

    ckpt = tmp_path / "ckpt"
    spark.sparkContext.setCheckpointDir(str(ckpt))
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], ["a", "b"])
    local = {(r["url"], r["cluster_key"])
             for r in connected_components(edges).collect()}
    durable = {(r["url"], r["cluster_key"])
               for r in connected_components(edges, reliable=True).collect()}
    assert durable == local == {("a", "cc:a"), ("b", "cc:a"), ("c", "cc:a"),
                                ("x", "cc:x"), ("y", "cc:x")}
    assert not list(ckpt.rglob("rdd-*"))


def test_small_graph_union_find_matches_distributed(spark):
    """The adaptive driver-side union-find (default for small edge sets)
    must produce EXACTLY the distributed fixpoint's labels — pinned on a
    random multi-component graph with chains, stars, duplicate and
    self-referential-ish edges."""
    import random

    from pysparkdedup.components import connected_components

    rng = random.Random(9)
    rows = []
    for comp in range(12):                      # chained stars per component
        hub = f"c{comp:02d}_h"
        for m in range(rng.randint(1, 9)):
            rows.append((hub, f"c{comp:02d}_m{m}"))
        rows.append((f"c{comp:02d}_m0", f"c{comp:02d}_x"))
    rows += rows[:7]                            # duplicate edges
    rng.shuffle(rows)
    edges = spark.createDataFrame(rows, "a string, b string")

    small = {(r["url"], r["cluster_key"])
             for r in connected_components(edges).collect()}
    dist = {(r["url"], r["cluster_key"])
            for r in connected_components(
                edges, small_graph_edges=0).collect()}
    assert small == dist
    assert len({u for u, _ in small}) == len(small)  # one row per node


def test_connected_components_rejects_bad_max_iter(spark):
    import pytest

    from pysparkdedup.components import connected_components

    edges = spark.createDataFrame([("a", "b")], ["a", "b"])
    with pytest.raises(ValueError, match="max_iter"):
        connected_components(edges, max_iter=0)


def test_clusterers_release_internal_caches(spark, pages_factory, monkeypatch):
    """Persist-leak regression (advice r2): minhash_clusters releases its
    signature/bucket-size caches on return — repeated invocations (daemon /
    incremental loops) must not grow the session's persisted-frame set.
    Spied via cache.track (the library imports it per-call), so the check is
    deterministic — no racing the async ContextCleaner over RDD counts."""
    import pysparkdedup.cache as cache
    from pysparkdedup.minhash import minhash_clusters

    rows = [(f"u/{i}", ts(i), "common shared body text words here "
             + ("alpha " if i % 2 else "beta ") * 10, "en")
            for i in range(20)]
    pages = pages_factory(rows)

    captured = []
    real_track = cache.track

    def spy(df):
        captured.append(df)
        return real_track(df)

    monkeypatch.setattr(cache, "track", spy)
    clusters = minhash_clusters(pages, DedupConfig())
    clusters.count()  # the result stays fully usable after release
    assert len(captured) >= 2  # sigs + bucket sizes went through the scope
    for df in captured:
        assert not (df.storageLevel.useMemory or df.storageLevel.useDisk), (
            "a library-persisted frame survived its cache_scope")


def test_cache_scope_unpersists(spark, pages_factory):
    from pyspark import StorageLevel

    from pysparkdedup.cache import cache_scope, track

    df = pages_factory([("u/a", ts(0), "hello world", "en")])
    with cache_scope():
        cached = track(df.persist(StorageLevel.MEMORY_AND_DISK))
        cached.count()
        assert cached.storageLevel.useMemory
    assert not cached.storageLevel.useMemory  # released at scope exit
    # without a scope, track is a no-op and the persist survives
    kept = track(df.select("url").persist(StorageLevel.MEMORY_AND_DISK))
    kept.count()
    assert kept.storageLevel.useMemory
    kept.unpersist()


def test_zero_small_graph_threshold_forces_distributed_even_when_empty(
        spark, monkeypatch):
    """small_graph_edges=0 is the documented escape hatch to the distributed
    fixpoint; it must hold even for an empty edge frame (0 <= 0 would
    otherwise take the driver path and plan-gating tests would silently
    test the wrong code path)."""
    import pysparkdedup.components as components_mod

    def boom(*args, **kwargs):
        raise AssertionError("driver union-find taken despite threshold 0")

    monkeypatch.setattr(components_mod, "_driver_union_find", boom)
    empty = spark.createDataFrame([], "a string, b string")
    out = components_mod.connected_components(empty, small_graph_edges=0)
    assert out.count() == 0


def test_scored_edges_match_reference_path(spark):
    """minhash_edges and simhash_edges (cold buckets through the fused
    bucket scorer, hot buckets' star pairs through the pair-row kernel)
    must emit exactly the pairs and scores of a reference that shares
    neither kernel — bucket_pairs -> dropDuplicates candidates scored in
    plain Python from the collected signatures — with every bucket cold,
    with a mix of hot and cold buckets, and with every bucket hot."""
    from pysparkdedup.cache import cache_scope
    from pysparkdedup.minhash import minhash_edges
    from pysparkdedup.simhash import simhash_blocks, simhash_edges

    pages, _ = pages_and_truth(spark, 300)
    mh = {r["url"]: r["minhash"]
          for r in minhash_signatures(pages, CFG).collect()
          if r["minhash"] is not None}
    sh = {r["url"]: r["simhash"]
          for r in simhash_signatures(pages).collect()
          if r["simhash"] is not None}
    mh_sigs = spark.createDataFrame(
        list(mh.items()), "url string, minhash array<int>")
    sh_sigs = spark.createDataFrame(
        list(sh.items()), "url string, simhash long")
    mask = (1 << 64) - 1
    families = {
        # name: (edges, bucket rows, bucket cols, score col, reference
        #        score, reference keep)
        "minhash": (
            lambda cfg: minhash_edges(None, cfg, sigs=mh_sigs),
            lambda cfg: lsh_bands(mh_sigs, cfg), ["band_id", "band_hash"],
            "jaccard",
            lambda a, b: sum(x == y for x, y in zip(mh[a], mh[b]))
            / CFG.num_perm,
            lambda s: s >= CFG.jaccard_threshold),
        "simhash": (
            lambda cfg: simhash_edges(None, cfg, sigs=sh_sigs),
            lambda cfg: simhash_blocks(sh_sigs, cfg),
            ["block_id", "block_val"], "hamming",
            lambda a, b: bin((sh[a] ^ sh[b]) & mask).count("1"),
            lambda s: s <= CFG.hamming_threshold),
    }
    for fam, (edges, rows, cols, col, score, keep) in families.items():
        sizes = [r["count"] for r in rows(CFG).groupBy(*cols).count()
                 .filter("count >= 2").collect()]
        caps = {"cold": max(sizes), "mixed": min(sizes), "hot": 1}
        for kind, cap in caps.items():
            hot = [n > cap for n in sizes]
            assert {"cold": not any(hot),
                    "mixed": 0 < sum(hot) < len(hot),
                    "hot": all(hot)}[kind], (fam, kind, sizes)
            cfg = DedupConfig(max_bucket_size=cap)
            with cache_scope():
                got = {(r["a"], r["b"]): r[col]
                       for r in edges(cfg).collect()}
                cand = bucket_pairs(rows(cfg), cols, id_col="url",
                                    cap=cap).dropDuplicates(["a", "b"])
                want = {(r["a"], r["b"]): score(r["a"], r["b"])
                        for r in cand.collect()}
            want = {p: s for p, s in want.items() if keep(s)}
            assert got, (fam, kind)  # planted duplicates must collide
            assert got == want, (fam, kind)


def test_minhash_edges_reject_ragged_signature(spark):
    """A signature shorter than the rest must fail the fused scorer loudly,
    naming its url: scoring it over the wrong width would hide bad input
    behind the threshold filter."""
    from pyspark.errors import PythonException

    from pysparkdedup.minhash import minhash_edges

    sig = list(range(CFG.num_perm))
    sigs = spark.createDataFrame(
        [("u/a", sig), ("u/b", sig[:-1]), ("u/c", sig)],
        "url string, minhash array<int>")
    with pytest.raises(PythonException, match="minhash of id u/b"):
        minhash_edges(None, CFG, sigs=sigs).collect()


def test_bucket_kernel_pair_indices_bounded_per_slice():
    """One Arrow batch of many small buckets (3.1M pairs) must be indexed a
    slice at a time: the kernel's Python-side allocations stay far below
    the 50 MB that the batch's whole pair-index arrays would take, and the
    slices together still hold every within-bucket pair exactly once."""
    import tracemalloc

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from pysparkdedup.pairs import _SCORE_SLICE, _score_buckets

    nb, m = 4000, 40
    n = nb * m
    members = pa.StructArray.from_arrays(
        [pa.array(np.arange(n, dtype=np.int64)),
         pa.ListArray.from_arrays(
             pa.array(np.arange(n + 1, dtype=np.int32)),
             pa.array(np.arange(n, dtype=np.int64) % 7))],
        names=["_i", "_p"])
    offsets = np.arange(0, n + 1, m, dtype=np.int32)
    batch = pa.RecordBatch.from_arrays(
        [pa.ListArray.from_arrays(pa.array(offsets), members)],
        names=["_ms"])

    def equal(a, b):
        return (a == b).sum(1, dtype=np.int32)

    rows = same = 0
    tracemalloc.start()
    try:
        for out in _score_buckets(iter([batch]), score=equal, name="s",
                                  label="p"):
            assert out.num_rows <= _SCORE_SLICE
            rows += out.num_rows
            same += pc.sum(out.column(2)).as_py()
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert rows == nb * m * (m - 1) // 2
    # Members i < j of one bucket score 1 exactly when j - i is a
    # multiple of 7 (every bucket starts at a multiple of 40).
    assert same == nb * sum(m - d for d in range(7, m, 7))
    assert peak < 12 * 2**20, peak


def test_simhash_family_memory_bounded_per_slice():
    """One batch of 1M token occurrences must be unpacked a slice of whole
    documents at a time: the family's Python-side allocations stay far
    below the ~810 MiB that unpacking the whole batch (64 bits per token,
    then an int32 copy) takes, a document longer than a slice still gets
    one slice of its own, and every signature matches the per-document
    vote."""
    import tracemalloc

    import numpy as np

    from pysparkdedup.simhash import _SIMHASH_SLICE, _simhash_arrays

    rng = np.random.default_rng(7)
    lens = rng.integers(0, 1500, 1000)
    lens[::97] = 0                          # empty docs sign to null
    lens[500] = _SIMHASH_SLICE + 11         # longer than one slice
    hashes = rng.integers(0, 2**63, int(lens.sum()), dtype=np.int64
                          ).astype(np.uint64) * np.uint64(3)
    tracemalloc.start()
    try:
        (got,) = _simhash_arrays(lens, hashes)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()

    want, offs = [], np.concatenate(([0], np.cumsum(lens)))
    for i, n in enumerate(lens):
        if not n:
            want.append(None)
            continue
        bits = np.unpackbits(hashes[offs[i]:offs[i + 1]].view(np.uint8)
                             .reshape(-1, 8), axis=1, bitorder="little")
        sig = np.packbits(2 * bits.sum(0, dtype=np.int64) > n,
                          bitorder="little").view("<u8")[0]
        want.append(int(sig.astype(np.int64)))
    assert got.to_pylist() == want
    assert peak < 16 * 2**20, peak
