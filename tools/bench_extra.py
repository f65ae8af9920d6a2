"""Extra (non-frozen) micro-benchmark: a per-stage split of the
``curation_pass`` bench leaf, each stage timed to its own action. bench.py
itself is frozen for measurement; its ``stages`` output already times the
tier cascade per tier through ``tiered_dedup(on_stage=...)``.

Usage: python tools/bench_extra.py [job ...]
Jobs: curation
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def lap_factory(st):
    t = [time.perf_counter()]

    def lap(name):
        now = time.perf_counter()
        st[name] = round(now - t[0], 3)
        t[0] = now

    return lap


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
