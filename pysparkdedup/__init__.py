"""pysparkdedup — a PySpark-native near-duplicate detection + clustering engine.

A from-scratch re-expression of the query/data-processing capabilities of
``kdeldycke/mail-deduplicate`` (reference at /root/reference, cited per-module as
``path:line``) for Common-Crawl-style web-page tables at 10^12-document scale:

- exact dedup        : normalized content-hash groupBy      (ref deduplicate.py:958-1058)
- near dup           : MinHash+LSH, SimHash Hamming-ball, n-gram Jaccard,
                       min-shingle anchor-join substring containment
- clustering         : union-find connected components (iterated min-label join)
- selection          : the reference's 24 keep/discard strategies as window
                       predicates with cascade fallback     (ref strategy.py:196-273)
- guards             : size/content thresholds + greedy outlier eviction
                       (ref deduplicate.py:270-359)
- stats              : the reference's Stat metrics + invariant checks
                       (ref deduplicate.py:66-134, 1319-1398)
- checkpoint/resume  : fingerprinted signature checkpoint + anti-join resume,
                       per-partition lineage + reuse metrics (ref cache.py)

Plus the training-data curation stack a 100-TB corpus pipeline needs around
dedup (all first-class, DuckDB-oracled via the driver contract):

- similarity search  : exact / sign-LSH / IVF ANN over embeddings (`similarity`)
- text analysis      : token/quality/language stats, winnowing fingerprints,
                       corpus vocabulary top-k (`textstats`)
- repetition filters : Gopher-style intra-doc signals, CCNet-style boilerplate
                       removal, Dolma-style keep-first paragraph dedup
                       (`repetition`)
- decontamination    : benchmark k-shingle overlap (`decontam`)
- PII scrubbing      : regex detect/redact/audit, Java+RE2-portable (`pii`)
- incremental crawls : new-vs-old corpus dedup off a signature checkpoint
                       (`crosscorpus`)
- image dedup        : perceptual dHash dedup (byte-identical, re-encoded and
                       resized copies) over a stdlib PNG decoder (`multimodal`)
- one-call pipeline  : `curate.curate_pages` / CLI `--mode curate`

Everything is DataFrame-first: built-in ``pyspark.sql.functions`` expressions in
the hot path, numpy kernels over Arrow batches (``mapInArrow`` /
``applyInArrow``) only where semantics genuinely need per-group/per-batch
Python (eviction, MinHash numpy kernels, image decode).
"""

__version__ = "0.1.0"
