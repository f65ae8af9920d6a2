"""Extra (non-frozen) micro-benchmarks: per-stage noop-sink isolation for
the heavy headline queries (guide §1.4) — bench.py itself is frozen for
measurement, so stage timings cited in OPTIMIZATION_r08.md come from here.

Usage: python tools/bench_extra.py [job ...]
Jobs: image, tiered, pipeline, simhash, minhash, ngram, exact, curation
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def lap_factory(st):
    t = [time.perf_counter()]

    def lap(name):
        now = time.perf_counter()
        st[name] = round(now - t[0], 3)
        t[0] = now

    return lap


def job_image(spark, sf_dir):
    """Stage split of _q_image_dup_docs: gen+decode+dhash / blocks+pairs /
    verify edges / components / ledger join."""
    import numpy as np
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from __spark_entry__ import _IMG_FAMILIES, _IMG_HAMMING_K, _IMG_PERTURB_MOD, _docs
    from pysparkdedup.components import connected_components
    from pysparkdedup.multimodal import (
        dhash_blocks, image_dhash, png_encode_gray)
    from pysparkdedup.pairs import bucket_pairs

    d = _docs(spark, sf_dir).select("doc_id")

    def gen(batches):
        import pandas as pd

        ys, xs = np.mgrid[0:8, 0:9]
        for pdf in batches:
            urls, payloads = [], []
            for did in pdf["doc_id"].tolist():
                did = int(did)
                f, s = did % _IMG_FAMILIES, 1 + did % 3
                g = (f * xs * xs * 29 + f * ys * 13 + xs * xs * 31
                     + ys * ys * 17 + xs * ys * 7 + f * f * 11) % 256
                if did % _IMG_PERTURB_MOD == 0:
                    g[did % 8, did % 9] = (g[did % 8, did % 9] + 96) % 256
                big = np.kron(g.astype(np.uint8), np.ones((s, s), np.uint8))
                urls.append(str(did))
                payloads.append(png_encode_gray(9 * s, 8 * s, big.tobytes()))
            yield pd.DataFrame({"url": urls, "html": payloads})

    # Mirrors the SHIPPED value-contracted path (image_dedup_ledger /
    # _dhash_value_labels): blocking, pairing, verify and the component
    # fixpoint run over DISTINCT dhash VALUES, not image ids.
    pages = d.mapInPandas(gen, "url string, html binary")
    st = {}
    lap = lap_factory(st)
    sigs = image_dhash(pages).persist(StorageLevel.MEMORY_AND_DISK)
    sigs.count()
    lap("gen_decode_dhash")
    vals = (sigs.filter(F.col("dhash").isNotNull())
            .groupBy("dhash")
            .agg(F.count(F.lit(1)).alias("_n"), F.min("url").alias("_vmin"))
            .persist(StorageLevel.MEMORY_AND_DISK))
    n_vals = vals.count()
    lap("value_contract")
    blocks = dhash_blocks(
        vals.select(F.col("dhash").alias("_vid"), "dhash"),
        _IMG_HAMMING_K, id_col="_vid")
    pairs = bucket_pairs(blocks, ["block_id", "val_a", "val_b"],
                         id_col="_vid", cap=256).dropDuplicates(["a", "b"])
    edges = pairs.filter(
        F.bit_count(F.col("a").bitwiseXOR(F.col("b"))) <= _IMG_HAMMING_K
    ).persist(StorageLevel.MEMORY_AND_DISK)
    n_edges = edges.count()
    lap("blocks_pairs_verify")
    from pysparkdedup.components import value_component_labels

    labels = value_component_labels(edges, vals, "dhash").persist(
        StorageLevel.MEMORY_AND_DISK)
    labels.count()
    lap("components_labels")
    ledger = sigs.join(labels, "dhash", "left").select(
        "url", "dhash",
        F.coalesce("cluster_key",
                   F.concat(F.lit("cc:"), F.col("url"))).alias("cluster_key"))
    ledger.agg(F.count(F.lit(1)), F.countDistinct("cluster_key")).collect()
    lap("ledger")
    st["n_values"] = n_vals
    st["n_value_edges"] = n_edges
    for df in (sigs, vals, edges, labels):
        df.unpersist()
    return st


def job_tiered(spark, sf_dir):
    """Semantic-tier internals: survivor-emb join / embedding dup edges /
    components / losers."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from __spark_entry__ import _docs_as_pages
    from pysparkdedup.cache import cache_scope
    from pysparkdedup.components import connected_components
    from pysparkdedup.config import DedupConfig
    from pysparkdedup.minhash import minhash_clusters
    from pysparkdedup.similarity import embedding_dup_edges
    from pysparkdedup.tiers import _cluster_losers, _exact_losers

    cfg = DedupConfig(strategies=("select-newest", "select-one"))
    pages = _docs_as_pages(spark, sf_dir)
    pages.cache().count()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    st = {}
    lap = lap_factory(st)
    l_exact = _exact_losers(pages, cfg, "url", "text").localCheckpoint(
        eager=True)
    lap("exact_losers")
    surv1 = pages.join(l_exact.select("url"), "url", "left_anti")
    l_near = _cluster_losers(minhash_clusters(surv1, cfg)).localCheckpoint(
        eager=True)
    lap("near_losers")
    surv2 = surv1.join(l_near.select("url"), "url", "left_anti")
    sub = emb.withColumn("url", F.col("vec_id").cast("string")).join(
        surv2.select("url"), "url").drop("url").localCheckpoint(eager=True)
    lap("emb_join_ckpt")
    with cache_scope():
        scored = embedding_dup_edges(
            sub, 0.35, n_tables=16, n_bits=6, id_col="vec_id",
        ).persist(StorageLevel.MEMORY_AND_DISK)
        scored.count()
    lap("sem_edges")
    edges = scored.select(F.col("a").cast("string").alias("a"),
                          F.col("b").cast("string").alias("b"))
    sem = connected_components(edges)
    _cluster_losers(sem).localCheckpoint(eager=True)
    lap("sem_components_losers")
    scored.unpersist()
    pages.unpersist()
    return st


def job_curation(spark, sf_dir):
    """curation_pass split: repetition / boilerplate / decontam."""
    from pyspark.sql import functions as F

    from __spark_entry__ import _docs_as_pages
    from pysparkdedup.decontam import contamination
    from pysparkdedup.repetition import (
        drop_boilerplate_lines, repetition_stats, with_chunk_lines)

    pages = _docs_as_pages(spark, sf_dir)
    pages.cache().count()
    docs = pages.select(F.col("url").alias("doc_id"), "text")
    st = {}
    lap = lap_factory(st)
    repetition_stats(docs, n=2).agg(
        F.avg("dup_gram_frac"), F.max("top_gram_frac")).collect()
    lap("repetition")
    lined = with_chunk_lines(docs, 10).select("doc_id", "lines")
    drop_boilerplate_lines(lined, min_df=5).agg(F.sum("n_dropped")).collect()
    lap("boilerplate")
    bench_set = docs.filter(F.crc32("doc_id") % 97 == 0)
    contamination(docs, bench_set, k=5).agg(
        F.sum(F.col("contaminated").cast("int"))).collect()
    lap("decontam")
    pages.unpersist()
    return st


JOBS = {
    "image": job_image,
    "tiered": job_tiered,
    "curation": job_curation,
}


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    jobs = sys.argv[1:] or list(JOBS)
    from pysparkdedup.session import get_spark

    spark = get_spark(app_name="pysparkdedup-bench-extra",
                      master=f"local[{cpus}]", shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    try:
        for j in jobs:
            spark.sparkContext.setJobDescription(f"bench_extra:{j}")
            # two runs: first pays JIT/codegen, second is steady state
            for run in range(2):
                out[f"{j}_run{run}"] = JOBS[j](spark, sf_dir)
    finally:
        spark.stop()
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
