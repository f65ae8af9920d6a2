"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship exact-dedup pipeline run on sf0.001 documents.
``queries()`` / ``oracle_sql()`` — one entry per SURVEY.md §2 operator family,
compared against DuckDB at sf0.01 (row-count + schema + order-insensitive
value-hash). Conventions for engine parity:

- timestamps are returned as naive 'yyyy-MM-dd HH:mm:ss' strings — tz-proof in
  both engines (the source column is TIMESTAMP_NTZ);
- ratio outputs are rounded to 4 decimals, set sizes / counts are exact ints;
- pairwise-Jaccard outputs return the integer intersection/set sizes rather
  than the float where a query's semantics allow; where the float IS the
  user-facing value (cross_corpus_dedup's minhash estimate) it is a dyadic
  rational (m/64, terminating decimal) rounded identically on both sides;
- every computed column is aliased identically on both sides.

Every queries() entry has a DuckDB oracle except guards_eviction_docs (the
greedy eviction's difflib content metric is not SQL-expressible; the driver
records the weaker rows-only check there, and the loop's integer half is
oracled separately via guards_eviction_size_only). The kernel-defined
operators (MinHash/SimHash signatures, union-find clusters, winnowing,
sign-LSH/IVF ANN, cross-corpus dedup) are replayed bit-exactly in DuckDB
HUGEINT arithmetic — see the _*_oracle_sql builders below.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pysparkdedup.config import DedupConfig

TOKEN_SPLIT = r"[^\p{L}\p{N}_]+"


def _spread(df: DataFrame) -> DataFrame:
    """Scan-parallelism floor (guide §2.5 input skew / §6 minPartitionNum):
    the sf test tables are single-file, single-row-group parquet, so the
    scan is 1 unsplittable partition and every Arrow kernel chained before
    the first shuffle runs on one core. Round-robin repartition to the
    session's parallelism ONLY when the scan is narrower than the core
    count — at corpus scale the scan is already thousands of splits and
    this is a no-op (no shuffle added). The spread width is HALF the
    session parallelism: paired A/B at sf0.1 across widths {8, 16, 32}
    showed 8 and 16 consistently ahead of 32 (exact 1.60/1.69/1.84 s,
    simhash 1.89/1.99/2.24 s, tiered 5.14/5.06/5.71 s) — at a few
    thousand rows, full-width partitions are ~150-row micro-tasks whose
    launch overhead outweighs the extra kernel lanes, while half-width
    keeps Arrow batches fat and the kernels parallel. Results are
    partitioning-independent by the engine's determinism contract; the
    driver's oracle hash is order-insensitive."""
    n = df.sparkSession.sparkContext.defaultParallelism
    width = max(2, n // 2)
    if df.rdd.getNumPartitions() < width:
        return df.repartition(width)
    return df


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _docs_as_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> the input_hint pages schema (doc_id->url, synthetic ts)."""
    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("url"),
        (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
         + F.make_interval(mins=F.col("doc_id").cast("int"))).alias("warc_ts"),
        F.encode(F.col("text"), "utf-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full exact-dedup pipeline (hash -> guards -> cascade -> label)
    on sf0.001 documents; returns the final annotated frame."""
    from pysparkdedup.pipeline import run_exact

    pages = _docs_as_pages(spark, "/root/testdata/sf0.001")
    cfg = DedupConfig(strategies=("select-newest", "select-one"))
    final = run_exact(pages, cfg)
    return final.select(
        "url", "status", "cluster_key", "applied_strategy", "set_outcome"
    )


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def _q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized content-hash groupBy (ref deduplicate.py:958-1058)."""
    d = _docs(spark, sf_dir)
    return (
        d.withColumn(
            "content_hash", F.sha2(F.regexp_replace("text", r"\s", ""), 256))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.min("doc_id").alias("min_doc_id"))
    )


def _q_dup_group_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-set size extremes + size-threshold predicate
    (ref deduplicate.py:260-268, 297-299)."""
    d = _docs(spark, sf_dir)
    return (
        d.withColumn(
            "content_hash", F.sha2(F.regexp_replace("text", r"\s", ""), 256))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .withColumn(
            "within_size_threshold",
            (F.col("max_chars") - F.col("min_chars")) <= 512,
        )
    )


def _q_hash_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Stat accounting identities as one aggregate row
    (ref deduplicate.py:66-134)."""
    d = _docs(spark, sf_dir)
    ann = d.withColumn(
        "rejected", F.col("text").isNull() | (F.length(F.trim("text")) < 1)
    ).withColumn(
        "content_hash", F.sha2(F.regexp_replace("text", r"\s", ""), 256))
    retained = ann.filter(~F.col("rejected"))
    groups = retained.groupBy("content_hash").agg(
        F.count(F.lit(1)).alias("n"))
    return (
        ann.agg(
            F.count(F.lit(1)).alias("found"),
            F.sum(F.col("rejected").cast("int")).alias("rejected"),
            F.sum((~F.col("rejected")).cast("int")).alias("retained"),
        )
        .crossJoin(
            groups.agg(
                F.count(F.lit(1)).alias("hashes"),
                F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("unique_docs"),
                F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(0)).alias("duplicates"),
            )
        )
    )


def _q_select_newest_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """select-newest window strategy (ref strategy.py:102-113)."""
    from pyspark.sql import Window

    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id")
    return (
        e.withColumn("max_ts", F.max("ts").over(w))
        .filter(F.col("ts") == F.col("max_ts"))
        .select("event_id", "user_id",
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"))
    )


def _q_select_oldest_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """select-oldest window strategy (ref strategy.py:72-83)."""
    from pyspark.sql import Window

    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id")
    return (
        e.withColumn("min_ts", F.min("ts").over(w))
        .filter(F.col("ts") == F.col("min_ts"))
        .select("event_id", "user_id",
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"))
    )


def _q_select_one_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic select-one (ref strategy.py:184-187; made deterministic
    by ordering on the row key, SURVEY.md §2.5)."""
    from pyspark.sql import Window

    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id")
    )


def _q_select_biggest_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """select-biggest by the value column (ref strategy.py:146-153)."""
    from pyspark.sql import Window

    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id")
    return (
        e.withColumn("max_v", F.max("value").over(w))
        .filter(F.col("value") == F.col("max_v"))
        .select("event_id", "user_id")
    )


def _q_cascade_newest_then_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cascade semantics (select-newest -> select-one) with the
    effectiveness rule 0 < selected < n and the undated-group fall-through
    (ref deduplicate.py:456-509)."""
    from pysparkdedup.strategy import apply_cascade

    e = _events(spark, sf_dir).select(
        F.col("event_id").cast("string").alias("url"),
        F.col("user_id").cast("string").alias("cluster_key"),
        F.col("ts").alias("warc_ts"),
        F.coalesce(F.length("props"), F.lit(0)).alias("n_bytes"),
    )
    cfg = DedupConfig(strategies=("select-newest", "select-one"))
    out = apply_cascade(e, cfg)
    return out.select(
        F.col("url").cast("long").alias("event_id"),
        F.col("selected"),
        F.col("applied_strategy"),
    )


def _q_reject_filter_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-row rejection with metric, grouped (ref mail.py:490-496)."""
    d = _docs(spark, sf_dir)
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("found"),
        F.sum(
            (F.col("text").isNull() | (F.length(F.trim("text")) < 1)).cast("int")
        ).alias("rejected"),
    )


def _q_regexp_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp path predicate (ref strategy.py:156-181)."""
    d = _docs(spark, sf_dir)
    return d.filter(F.col("source").rlike("^src1[0-9]$")).select("doc_id", "source")


def _q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting over whitespace tokens (F.size(textstats.tokens_col())) +
    the BPE-ish subword estimate (textstats.subword_count) — widened in
    round 7 per SURVEY §8 fold option 3 (per-parameter variants ride the
    SAME slot as extra columns). The subword oracle replays the Java
    lookaround split as its lookaround-free RE2 equivalent: the split's
    pieces are exactly the maximal letter-only / digit-only runs, so
    DuckDB extracts '\\p{L}+|\\p{N}+' and applies the same ceil(len/4)
    length heuristic."""
    from pysparkdedup.textstats import subword_count

    d = _docs(spark, sf_dir)
    toks = F.filter(
        F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), r"\s+"),
        lambda t: t != "",
    )
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.length(F.coalesce(F.col("text"), F.lit(""))).alias("n_chars_exact"),
        subword_count().alias("n_subwords"),
    )


def _q_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-signal ratios (textstats.quality_columns core)."""
    d = _docs(spark, sf_dir)
    text = F.coalesce(F.col("text"), F.lit(""))
    toks = F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")
    n_chars = F.length(text)
    safe_chars = F.greatest(n_chars, F.lit(1)).cast("double")
    punct = F.length(F.regexp_replace(text, r"[\p{L}\p{N}\s]", ""))
    digits = F.length(F.regexp_replace(text, r"[^0-9]", ""))
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.round(punct / safe_chars, 4).alias("punct_ratio"),
        F.round(digits / safe_chars, 4).alias("digit_ratio"),
    )


def _q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 5-shingle Jaccard self-join, integer outputs (ngram.py), WITH
    the production df-cut (max_df=100, the same guard jaccard_edges ships
    and bench.py runs) replayed in the oracle — closing the r3-carried
    divergence where the contract query omitted the cut. Outputs stay
    integers (n_common, na, nb) so no float rides the hash; note na/nb
    count ALL of a doc's distinct shingles (set sizes), while the df-cut
    only prunes the join keys — exactly jaccard_edges' semantics."""
    from pysparkdedup.ngram import with_shingles

    max_df = 100
    d = _docs(spark, sf_dir).select("doc_id", "text")
    sh = (
        with_shingles(d, k=5)
        .select(F.col("doc_id").alias("_id"), "shingles")
        .withColumn("_nsh", F.size("shingles"))
        .filter(F.col("_nsh") > 0)
    )
    posting = sh.select("_id", "_nsh", F.explode("shingles").alias("sh"))
    freq = posting.groupBy("sh").agg(F.count(F.lit(1)).alias("_df"))
    hot = freq.filter(F.col("_df") > max_df).select("sh")
    posting = posting.join(F.broadcast(hot), "sh", "left_anti")
    left = posting.select(F.col("_id").alias("a"), F.col("_nsh").alias("na"), "sh")
    right = posting.select(F.col("_id").alias("b"), F.col("_nsh").alias("nb"), "sh")
    inter = (
        left.join(right, "sh")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return inter.filter(
        F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")) >= 0.5
    ).select("a", "b", "n_common", "na", "nb")


def _q_pointer_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointer dedup: every doc points at the min doc of its exact-dup set
    (hardlink analog, ref deduplicate.py:1140-1170)."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir).withColumn(
        "content_hash", F.sha2(F.regexp_replace("text", r"\s", ""), 256))
    w = Window.partitionBy("content_hash")
    return d.select(
        "doc_id",
        F.min("doc_id").over(w).alias("kept_doc_id"),
    ).withColumn("is_canonical", F.col("doc_id") == F.col("kept_doc_id"))


def _q_group_extremes_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group extremes on a TPC-H table (per-set min/max operator family,
    ref deduplicate.py:222-268)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.sum("l_quantity").cast("long").alias("sum_qty"),
    )


def _q_normalize_text_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-side normalizer family in ONE pass — consolidates the r1-r4
    single-normalizer micro-queries (normalize_subject, collapse_ws_hash,
    normalize_content_type, normalize_address) under the driver's 50-query
    budget; same synthesized inputs, same oracle fragments, concatenated
    columns. Covers: subject-prefix strip (ref mail.py:539-546),
    whitespace-collapse + hash (ref mail.py:525-526), MIME-parameter strip
    (ref mail.py:548-565), address normalization (ref mail.py:578-594)."""
    from pysparkdedup.normalize import (
        collapse_ws, normalize_address, normalize_content_type,
        normalize_subject)

    d = _docs(spark, sf_dir)
    first_line = F.split(F.coalesce(F.col("text"), F.lit("")), "\n").getItem(0)
    subject = F.concat(F.lit("Re: Fwd: [list] "), F.substring(first_line, 1, 60))
    mime_raw = F.concat(
        F.lit("Text/"), F.coalesce(F.col("lang"), F.lit("plain")),
        F.lit("; charset=UTF-8; boundary="), F.col("source"))
    addr_raw = F.concat(F.lit('"User  '), F.col("source"), F.lit('" \t<'),
                        F.col("source"), F.lit("@example.com>"))
    return d.select(
        "doc_id",
        normalize_subject(subject).alias("norm_subject"),
        F.sha2(collapse_ws(F.coalesce(F.col("text"), F.lit(""))), 256)
        .alias("collapsed_hash"),
        normalize_content_type(mime_raw).alias("mime"),
        normalize_address(addr_raw).alias("addr"),
    )


def _q_normalize_keys_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identity-key normalizer family in ONE pass — consolidates the r1-r4
    micro-queries (strip_angle_brackets, normalize_url, normalize_date_day):
    message-id bracket strip (ref mail.py:596-619), URL canonicalization
    (web analog of ref mail.py:176-193) and date-to-UTC-day collapse (ref
    mail.py:567-576) over a doc_id-derived synthetic timestamp (documents
    carry no timestamp column; minute-granular so the day collapse is
    non-trivial)."""
    from pysparkdedup.normalize import (
        normalize_date_day, normalize_url, strip_angle_brackets)

    d = _docs(spark, sf_dir)
    wrapped = F.concat(F.lit("<"), F.col("source"), F.lit(">"))
    raw_url = F.concat(
        F.lit("HTTP://Example.COM:80/"), F.col("source"),
        F.lit("/page/"), F.col("doc_id").cast("string"),
        F.lit("?utm_source=x&id="), F.col("doc_id").cast("string"),
        F.lit("&utm_campaign=y#frag"),
    )
    ts = F.timestamp_add(
        "MINUTE", (F.col("doc_id") % 90000).cast("int"),
        F.to_timestamp(F.lit("2020-01-01 00:00:00")))
    return d.select(
        "doc_id",
        strip_angle_brackets(wrapped).alias("stripped"),
        normalize_url(raw_url).alias("canon_url"),
        normalize_date_day(ts).alias("day"),
    )


def _events_with_extremes(spark: SparkSession, sf_dir: str):
    """(joined events frame, group-extremes dict, predicate args) — the
    shared input every strategy query builds its strategy._predicate from;
    extremes come from the sharded groupBy + join-back path
    (groupagg.with_group_stats), same as the pipeline."""
    from pysparkdedup.groupagg import with_group_stats

    e = _events(spark, sf_dir)
    j = with_group_stats(e, "user_id", [
        F.min("ts").alias("_min_ts"), F.max("ts").alias("_max_ts"),
        F.min("value").alias("_min_size"), F.max("value").alias("_max_size"),
        F.min("event_id").alias("_min_id"),
    ])
    g = {"min_ts": F.col("_min_ts"), "max_ts": F.col("_max_ts"),
         "min_size": F.col("_min_size"), "max_size": F.col("_max_size"),
         # min over the LONG id, cast for the string-typed url slot: keeps
         # the historical numeric tie-break of the rn-ordered variant.
         "min_url": F.col("_min_id").cast("string")}
    args = (F.col("ts"), F.col("value"), F.col("event_id").cast("string"),
            None, g)
    return j, args


def _strategy_over_events(name: str, spark: SparkSession, sf_dir: str,
                          with_ts: bool = False) -> DataFrame:
    """One strategy as its group-extremes predicate over events/user_id, built
    by the strategy module's own registry (strategy._predicate, ref
    strategy.py:56-193)."""
    from pysparkdedup.strategy import _predicate

    j, args = _events_with_extremes(spark, sf_dir)
    pred = _predicate(name, *args)
    cols = ["event_id", "user_id"]
    if with_ts:
        cols.append(F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"))
    return j.filter(pred).select(*cols)


def _q_select_older_newer_per_user(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """BOTH timestamp-threshold twins in one query (SURVEY §8 fold option 2,
    consolidated under the driver's 50-query budget, freeing the slot
    image_dup_docs occupies): select-older / discard-newest (ref
    strategy.py:56-69) and select-newer / discard-oldest (ref
    strategy.py:86-99) as boolean columns from strategy._predicate over the
    shared group extremes — the select_paths pattern. One row per event, so
    both predicates stay visible on every row instead of as filtered
    subsets."""
    from pysparkdedup.strategy import _predicate

    j, args = _events_with_extremes(spark, sf_dir)
    return j.select(
        "event_id", "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        _predicate("select-older", *args).alias("is_older"),
        _predicate("select-newer", *args).alias("is_newer"),
    )


def _q_select_smaller_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """select-smaller / discard-biggest (ref strategy.py:116-122)."""
    return _strategy_over_events("select-smaller", spark, sf_dir)


def _q_select_smallest_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """select-smallest / discard-bigger (ref strategy.py:125-134)."""
    return _strategy_over_events("select-smallest", spark, sf_dir)


def _q_select_bigger_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """select-bigger / discard-smallest (ref strategy.py:137-143)."""
    return _strategy_over_events("select-bigger", spark, sf_dir)


def _q_select_all_but_one_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """select-all-but-one / discard-one, deterministic row_number order
    (ref strategy.py:190-193; SURVEY §2.5 determinism note)."""
    return _strategy_over_events("select-all-but-one", spark, sf_dir)


def _q_select_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH path strategies in one query (consolidated from the r1-r4
    select_matching_path / select_non_matching_path micro-queries under the
    driver's 50-query budget): select-matching-path (ref strategy.py:156-167)
    and select-non-matching-path (ref strategy.py:170-181) as two boolean
    columns from strategy._predicate — pure row-level regexp tests."""
    from pysparkdedup.strategy import _predicate

    d = _docs(spark, sf_dir)
    args = (F.lit(None).cast("timestamp"), F.col("n_chars"),
            F.col("source"), "^src1[0-9]$", {})
    return d.select(
        "doc_id", "source",
        _predicate("select-matching-path", *args).alias("sel_matching"),
        _predicate("select-non-matching-path", *args)
        .alias("sel_non_matching"),
    )


def _q_lang_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID (textstats.detected_lang) — pure column
    algebra, replayed exactly by the DuckDB oracle (argmax by score then lang)."""
    from pysparkdedup.textstats import detected_lang

    d = _docs(spark, sf_dir)
    return d.select("doc_id", detected_lang().alias("lang_pred"), "lang")


def _q_guards_eviction_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy outlier eviction (guards.apply_guards, ref deduplicate.py:304-359)
    — rows-only: lang-keyed groups breach the size spread, forcing the full
    pairwise-offense + greedy-eviction Arrow path. Deterministic (tie-break on
    url, diff memoized per body pair)."""
    from pysparkdedup.guards import apply_guards

    d = _docs(spark, sf_dir)
    df = d.select(
        F.col("doc_id").cast("string").alias("url"),
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        F.col("n_chars").alias("n_bytes"),
        F.sha2(F.coalesce(F.col("text"), F.lit("")), 256).alias("raw_hash"),
        F.coalesce(F.col("lang"), F.lit("und")).alias("cluster_key"),
    )
    cfg = DedupConfig(size_threshold=100, content_threshold=768)
    return apply_guards(df, cfg).select("url", "evicted", "guard_skip_kind")


def _q_guards_eviction_size_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy outlier eviction with the content check OFF (verdict r3 ask #5):
    offenses are pure integer size comparisons at body-class granularity, so
    the whole greedy loop — degree argmax, min-head-url tie-break, class
    pointer advance, survivors<2 whole-set skip — is replayed exactly in
    DuckDB as a recursive CTE (one eviction per group per recursion step).
    This puts the SQL-expressible half of guards.apply_guards under the full
    value-hash oracle; the difflib content metric keeps its rows-only twin
    (guards_eviction_docs)."""
    from pysparkdedup.guards import apply_guards

    d = _docs(spark, sf_dir)
    df = d.select(
        F.col("doc_id").cast("string").alias("url"),
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        F.col("n_chars").alias("n_bytes"),
        F.sha2(F.coalesce(F.col("text"), F.lit("")), 256).alias("raw_hash"),
        F.coalesce(F.col("lang"), F.lit("und")).alias("cluster_key"),
    )
    cfg = DedupConfig(size_threshold=100, content_threshold=-1)
    return apply_guards(df, cfg).select("url", "evicted", "guard_skip_kind")


def _q_checkpoint_resume_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint anti-join resume (checkpoint.signatures_with_checkpoint,
    ref cache.py:248-317): commit signatures for the even half, then run the
    full corpus — evens restore as cache hits, odds sign fresh. content_hash
    is SQL-replayable, so resume correctness gets a full oracle."""
    import shutil
    import tempfile

    from pysparkdedup.checkpoint import signatures_with_checkpoint

    pages = _docs_as_pages(spark, sf_dir)
    ckpt = tempfile.mkdtemp(prefix="pysparkdedup-ckpt-q-")
    try:
        cfg = DedupConfig()
        evens = pages.filter(F.col("url").cast("long") % 2 == 0)
        signatures_with_checkpoint(evens, cfg, ckpt)
        out = signatures_with_checkpoint(pages, cfg, ckpt)
        # `out` reads the committed parquet (the durable return path) — pin
        # it into session storage before the finally removes those files.
        return out.select("url", "content_hash").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


# ---- rows-only (non-SQL-expressible) ---------------------------------------

def _q_minhash_clusters_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup clusters (minhash.py) — the engine's headline
    output, fully oracle-checked: DuckDB replays signatures, banding-by-slice
    equality, pairwise candidates, jaccard verify, and the union-find
    min-label fixpoint as a recursive-CTE transitive closure
    (_minhash_clusters_oracle_sql)."""
    from pysparkdedup.minhash import minhash_clusters

    pages = _docs_as_pages(spark, sf_dir)
    return minhash_clusters(pages, DedupConfig())


def _q_minhash_sigs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (minhash.py) exploded to (url, pos, sig) — fully
    oracle-checked: DuckDB replays the token-hash kernel, the k=5 shingle
    combiner into the Mersenne-31 field, and every permutation's min with the
    seeded (a, b) params embedded as literals (see _minhash_oracle_sql)."""
    from pysparkdedup.minhash import minhash_signatures

    pages = _docs_as_pages(spark, sf_dir)
    sigs = minhash_signatures(pages, DedupConfig())
    return sigs.filter(F.col("minhash").isNotNull()).select(
        "url", F.posexplode("minhash").alias("pos", "sig"))


def _q_simhash_sigs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures (simhash.py) — fully oracle-checked: the DuckDB
    side replays the byte-LUT tokenizer (ASCII corpus), the FNV-prime
    polynomial token hash with length fold, the murmur fmix64 avalanche
    (mod-2^64 multiplies via 32-bit splits in HUGEINT, xor via signed view),
    the per-bit occurrence votes, and the little-endian packing into a
    two's-complement long."""
    from pysparkdedup.simhash import simhash_signatures

    pages = _docs_as_pages(spark, sf_dir)
    return simhash_signatures(pages)


def _q_containment_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed containment dedup (suffix.containment_edges) in its
    token-aligned mode — candidate generation is provably complete for
    contiguous token containment (every inner shingle is an outer shingle),
    so the DuckDB contains() oracle replays it exactly."""
    from pysparkdedup.suffix import containment_edges

    pages = _docs_as_pages(spark, sf_dir)
    return containment_edges(pages, DedupConfig(), verify="token")


def _q_winnow_fingerprints_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (textstats.py, SIGMOD'03), exploded to
    (url, fp) rows. Fully oracle-checked: the DuckDB side replays the rolling
    polynomial hash (base 1000003 over codepoints, mod 2^64 in HUGEINT),
    the window-4 minima, dedup, and the int64 two's-complement view."""
    from pysparkdedup.textstats import winnowing_fingerprints

    pages = _docs_as_pages(spark, sf_dir)
    return winnowing_fingerprints(pages).select(
        "url", F.explode("fingerprints").alias("fp"))


def _q_embedding_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucket assignments (similarity.hyperplane_buckets) — fully
    oracle-checked: the Rademacher plane entries are the parity of a
    Mersenne-31 universal hash of (table, bit, dim), so DuckDB recomputes
    the exact bucket integers from the (a, b) literals
    (_emb_bucket_ctes)."""
    from pysparkdedup.similarity import hyperplane_buckets

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return hyperplane_buckets(emb, n_tables=4, n_bits=8).select(
        "vec_id", "table_id", "bucket")


def _q_embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbor (similarity.ivf_topk) at BOTH
    refinement levels in one slot — the SURVEY §8 fold (option 1) of the
    former embedding_ivf_top1 / embedding_ivf_lloyd_top1 queries, freeing
    a contract slot under the driver's 50-query cap while keeping both
    code paths fully oracle-checked. ``vec_id_sampled`` is the lloyd_iters=0
    result (hash-sampled centroids: the n_list vectors with the smallest
    Mersenne-31 hash of vec_id, literals in the SQL; inverted-list
    assignment and nprobe probing rank by (cosine DESC, list_id ASC);
    exact cosine re-ranks candidates). ``vec_id_lloyd`` is the same search
    after ONE pinned Lloyd refinement (per-dimension AVG per list; empty
    lists keep the sampled centroid; verdict r3 #8). Float caveat as for
    the bucket oracle: mean/cosine reduction order is unspecified on the
    SQL side, but only integer columns are hashed and rank ties re-score
    with exact embeddings, so LSB drift is inert. Both searches emit
    exactly k rows per query over the same (query_id, rank) grid; the
    full-outer join keeps either side's rows loudly visible as nulls if
    that invariant ever breaks."""
    from pysparkdedup.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding")
    r0 = ivf_topk(emb, queries, k=3, n_list=16, nprobe=4).select(
        "query_id", "rank", F.col("vec_id").alias("vec_id_sampled"))
    r1 = ivf_topk(emb, queries, k=3, n_list=16, nprobe=4,
                  lloyd_iters=1).select(
        "query_id", "rank", F.col("vec_id").alias("vec_id_lloyd"))
    return r0.join(r1, ["query_id", "rank"], "full_outer")


def _q_embedding_ann_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH approximate nearest neighbor (similarity.lsh_topk) — fully
    oracle-checked: DuckDB replays the hash-deterministic buckets, the
    cold-bucket (<= max_bucket) candidate join, and the exact-cosine
    re-rank."""
    from pysparkdedup.similarity import lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return lsh_topk(emb, queries, k=3, n_tables=16, n_bits=6).select(
        "query_id", "vec_id", "rank")


def _q_embedding_top1_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-1 neighbor (excluding self) for the first 20 vectors —
    brute-force baseline (similarity.py)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    dot = F.aggregate(
        F.zip_with("qe", "embedding",
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)
    nq = F.sqrt(F.aggregate(
        F.transform("qe", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v))
    nc = F.sqrt(F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v))
    from pyspark.sql import Window

    scored = (
        q.crossJoin(emb)
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cosine", dot / (nq * nc))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                F.round("cosine", 4).alias("cosine_r"))
    )


def _q_embedding_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup clusters (similarity.py) — fully
    oracle-checked: DuckDB replays the hash-deterministic sign-LSH buckets,
    the cold-path pairwise candidates, the exact-cosine >= threshold
    verify, and the min-label union-find as a recursive-CTE transitive
    closure. The replay is valid only while no bucket exceeds the 256 cap
    (max bucket is 19 at sf0.01): above it the ENGINE degrades to salted
    stars that keep connectivity, which the SQL does not model — the
    oracle emits loud sentinel rows for any overflowing bucket instead of
    silently diverging (advice r3). No planted duplicate vectors exist, so
    the 0.35 threshold sits at the top of the random-cosine tail and
    yields a small non-empty edge set."""
    from pysparkdedup.similarity import embedding_dup_clusters

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_dup_clusters(emb, threshold=0.35, n_tables=16, n_bits=6)


def _q_repetition_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL Gopher repetition family (repetition.repetition_profile,
    Rae et al. 2021 A1.1): per-doc gram counts plus top-gram and
    duplicate-gram character fractions for n = 2, 3 AND 4, one Arrow
    kernel pass (tokenize/factorize shared across n). Wide row — 12 stat
    columns — in the same contract slot the 2-gram query held through
    round 5. Deterministic top-gram tie-break (count, then gram length;
    the gram-text third key cannot change the count*len product)."""
    from pysparkdedup.repetition import repetition_profile

    return repetition_profile(_docs(spark, sf_dir), ns=(2, 3, 4))


def _q_boilerplate_lines_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus boilerplate removal (repetition.py): lines =
    deterministic 10-token chunks (the synthetic corpus has no newlines),
    drop every line occurring in >= 5 distinct docs, rebuild the text in
    original order."""
    from pysparkdedup.repetition import (
        drop_boilerplate_lines, with_chunk_lines)

    d = with_chunk_lines(_docs(spark, sf_dir), 10).select("doc_id", "lines")
    out = drop_boilerplate_lines(d, min_df=5, id_col="doc_id")
    return out.select(
        "doc_id",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_dropped").cast("long").alias("n_dropped"),
        "clean_text",
    )


def _q_vocab_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-k (textstats.vocab_topk): 200 most frequent
    tokens with deterministic (count DESC, token ASC) rank. Plan-gated to
    TakeOrderedAndProject (heap top-k, no global sort)."""
    from pysparkdedup.textstats import vocab_topk

    return vocab_topk(_docs(spark, sf_dir), k=200)


def _q_gopher_rules_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality rules (textstats.gopher_rules): per-rule
    booleans + conjunction, thresholds compared on unrounded values so the
    SQL replay is exact. min_tokens lowered to 20 so the synthetic corpus
    (short docs exist) splits on the rule rather than failing uniformly,
    and the stopword rule uses the corpus's own English marker set at
    min_hits=1 (the paper's required stopwords never occur in the
    synthetic vocabulary, and non-"the" en markers appear at most one per
    doc — the defaults would make the rule constant-false, a degenerate
    signal; this way it splits by document language)."""
    from pysparkdedup.textstats import STOPWORDS, gopher_rules

    return gopher_rules(_docs(spark, sf_dir), min_tokens=20,
                        stopwords=STOPWORDS["en"], min_stopword_hits=1)


def _q_paragraph_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dolma-style corpus-wide paragraph dedup, keep-FIRST semantics
    (repetition.dedup_lines_keep_first): a line seen anywhere earlier —
    minimal (doc_id, pos) — is removed from every later position, including
    intra-doc repeats. Same 10-token pseudo-line unit as the boilerplate
    query; oracle replays the winner pick as row_number over
    (doc_id, pos)."""
    from pysparkdedup.repetition import (
        dedup_lines_keep_first, with_chunk_lines)

    d = with_chunk_lines(_docs(spark, sf_dir), 10).select("doc_id", "lines")
    out = dedup_lines_keep_first(d)
    return out.select(
        "doc_id",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_dropped").cast("long").alias("n_dropped"),
        "clean_text")


def _q_decontam_overlap_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (decontam.py): the eval set is the
    deterministic doc_id % 97 == 0 slice of the corpus itself, so overlap
    is guaranteed non-trivial (every benchmark doc self-overlaps) and the
    oracle can rebuild the same set. k=5 shingles, ngram.py's tokenizer."""
    from pysparkdedup.decontam import contamination

    d = _docs(spark, sf_dir)
    bench = d.filter(F.col("doc_id") % 97 == 0)
    return contamination(d, bench, k=5, min_overlap=1)


def _q_cross_corpus_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl dedup (crosscorpus.py): even doc_ids are the OLD
    corpus (signature table computed once, the checkpoint stand-in), odd
    doc_ids the NEW batch; every new doc is flagged exact_dup / near_dup /
    unique with its deterministic old-corpus witness."""
    from pysparkdedup.checkpoint import compute_signatures
    from pysparkdedup.crosscorpus import dedup_against

    cfg = DedupConfig()
    pages = _docs_as_pages(spark, sf_dir)
    old = pages.filter(F.col("url").cast("long") % 2 == 0)
    new = pages.filter(F.col("url").cast("long") % 2 == 1)
    return dedup_against(new, compute_signatures(old, cfg), cfg)


def _with_synth_pii(d: DataFrame) -> DataFrame:
    """Deterministic synthetic PII planted from doc_id (the corpus has no
    real PII): every doc gets an email, every 3rd an IPv4, every 5th a
    phone, every 7th a card number. Built from doc_id arithmetic only so
    the oracle rebuilds the byte-identical string in SQL. Segments are
    separated by non-pattern characters (spaces, 'tel'/'card:' labels) so
    the greedy phone class cannot swallow a neighboring segment."""
    did = F.col("doc_id")
    aug = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(" contact user"), did.cast("string"), F.lit("@example.org"),
        F.when(did % 3 == 0, F.concat(
            F.lit(" ip 10."), (did % 200).cast("string"),
            F.lit("."), ((did * 3) % 200).cast("string"),
            F.lit("."), (did % 250).cast("string"))).otherwise(F.lit("")),
        F.when(did % 5 == 0, F.concat(
            F.lit(" tel +1 415 555"),
            (did % 10000).cast("string"))).otherwise(F.lit("")),
        F.when(did % 7 == 0,
               F.lit(" card: 4242 4242 4242 4242")).otherwise(F.lit("")),
    )
    return d.withColumn("text", aug)


def _q_pii_redact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (pii.py): per-kind regexp counts + typed-placeholder
    redaction over documents with deterministically planted PII. Fully
    oracle-checked — the patterns live in the Java/RE2-shared regex subset
    (no lookaround/backreferences, gated by a pytest), so DuckDB replays
    counts AND the redacted bytes exactly."""
    from pysparkdedup.pii import redact_pii, with_pii_counts

    d = _with_synth_pii(_docs(spark, sf_dir)).select("doc_id", "text")
    return redact_pii(with_pii_counts(d)).select(
        "doc_id", "n_email", "n_ipv4", "n_phone", "n_card", "n_pii",
        "text_redacted")


def _q_pii_summary_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level PII audit (pii.pii_summary): 1-row map-side-combined
    reduce (doc count, docs with any PII, per-kind totals)."""
    from pysparkdedup.pii import pii_summary

    return pii_summary(_with_synth_pii(_docs(spark, sf_dir)))


def _q_curation_pass_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSITE curation pass — the whole `--mode curate` verb as one
    oracled query (the engine's analog of the reference's whole-verb golden
    e2e tests, ref tests/test_strategy.py:136-381): Gopher repetition filter
    (drop docs with rounded duplicate-2-gram char fraction > 0.15) ->
    CCNet boilerplate-line removal (10-token pseudo-lines, min_df=5) ->
    Dolma keep-first paragraph dedup -> PII redaction, over documents with
    deterministically planted PII. Each stage is individually oracled
    elsewhere; this catches stage-COMPOSITION bugs (order, schema drift,
    filter-then-rebuild interaction) that per-stage oracles cannot."""
    from pysparkdedup.curate import curate_pages

    d = _with_synth_pii(_docs(spark, sf_dir)).select("doc_id", "text")
    out = curate_pages(
        d, max_dup_gram_frac=0.15, boilerplate_min_df=5,
        dedup_paragraphs=True, redact=True, line_mode="chunk",
        id_col="doc_id", text_col="text")
    return out.select("doc_id", F.col("text").alias("curated_text"))


def _q_tiered_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSITE tiered dedup (tiers.py) — the full exact -> MinHash-near ->
    embedding-semantic cascade as one oracled ledger (url, tier, kept_by),
    each tier restricted to the previous tier's survivors and kept_by
    chain-resolved to a final 'kept' representative. Fully oracle-checked:
    DuckDB replays the ws-stripped exact hash groups, the bit-exact minhash
    signature/banding/verify/union-find pipeline RESTRICTED to exact
    survivors, and the sign-LSH + exact-cosine semantic clusters RESTRICTED
    to near survivors (doc_id joins embeddings.vec_id 1:1 in the testdata).
    Same cap caveat as embedding_dup_clusters: the replay walks cold
    buckets only and emits loud sentinel rows if any bucket exceeds 256
    (max is 19 at sf0.01)."""
    from pysparkdedup.tiers import tiered_dedup

    pages = _docs_as_pages(spark, sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return tiered_dedup(
        pages, DedupConfig(), emb=emb, emb_threshold=0.35,
        emb_kwargs={"n_tables": 16, "n_bits": 6})


def _q_pipeline_pass_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSITE end-to-end training-data pipeline (trainpipe.py) — the
    whole `--mode pipeline` verb as one oracled query: the curation pass
    (the exact settings curation_pass_docs oracles: planted PII,
    repetition > 0.15, boilerplate df >= 5, keep-first paragraph dedup,
    redaction, chunk lines) feeding the tiered dedup cascade (the exact
    settings tiered_dedup_docs oracles) over the CURATED text. Returns
    the (url, tier, kept_by) ledger over curation survivors. This is the
    strongest composition check in the contract: the exact tier hashes
    the curated bytes, so any drift anywhere in the five curation stages
    changes the dedup ledger — DuckDB replays curation CTEs piped into
    the tiered CTEs (the same shared fragments both standalone oracles
    use, re-sourced onto the curated relation)."""
    from pysparkdedup.trainpipe import curate_and_dedup

    d = _with_synth_pii(_docs(spark, sf_dir)).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    _cur, ledger = curate_and_dedup(
        d, DedupConfig(), emb=emb, emb_threshold=0.35,
        emb_kwargs={"n_tables": 16, "n_bits": 6},
        curate_kwargs=dict(max_dup_gram_frac=0.15, boilerplate_min_df=5,
                           dedup_paragraphs=True, redact=True,
                           line_mode="chunk"),
        id_col="doc_id", text_col="text")
    return ledger


# deterministic synthetic-image parameters shared by the Spark query and the
# DuckDB oracle: family count (image content class), the one-cell perturbation
# stride (a <= 2-bit hamming offset the pigeonhole join must still catch), and
# the verify threshold. The pixel formula keeps families >= 17 hamming bits
# apart (measured over all 37C2 pairs), so perturbed members (<= 2 bits off
# their family base, <= 4 off each other) can never bridge two families at
# threshold 4 — clusters == families, exactly replayable.
_IMG_FAMILIES = 37
_IMG_PERTURB_MOD = 11
_IMG_HAMMING_K = 4


def _q_image_dup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup (multimodal.image_dhash → dhash_blocks →
    bucketed pigeonhole join → JVM bit_count verify → union-find), end to
    end over the REAL PNG decode path, on deterministic synthetic images
    derived from doc_id. Image for doc d: family f = d % 37 picks a 9x8
    grid v = (f*x*x*29 + f*y*13 + x*x*31 + y*y*17 + x*y*7 + f*f*11) % 256,
    rendered at scale s = 1 + d % 3 (s x s constant blocks — the box
    resample recovers the grid exactly, so resized copies hash identically),
    and docs with d % 11 == 0 get one cell perturbed (+96 at (x=d%9, y=d%8)).
    The DuckDB oracle replays grid → gradient bits → two's-complement
    packing → all-pairs bit_count(xor) <= 4 → recursive-closure components;
    exact because pigeonhole recall is exact and no bucket nears the 256 cap
    at contract scale (family size ≈ N/37)."""
    import numpy as np

    from pysparkdedup.multimodal import image_dedup_ledger, png_encode_gray

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
                big = np.kron(g.astype(np.uint8),
                              np.ones((s, s), np.uint8))
                urls.append(str(did))
                payloads.append(png_encode_gray(9 * s, 8 * s, big.tobytes()))
            yield pd.DataFrame({"url": urls, "html": payloads})

    pages = d.mapInPandas(gen, "url string, html binary")
    return image_dedup_ledger(pages, hamming_threshold=_IMG_HAMMING_K)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "exact_dup_groups": _q_exact_dup_groups,
        "dup_group_spread": _q_dup_group_spread,
        "hash_group_stats": _q_hash_group_stats,
        "select_newest_per_user": _q_select_newest_per_user,
        "select_oldest_per_user": _q_select_oldest_per_user,
        "select_one_per_user": _q_select_one_per_user,
        "select_biggest_per_user": _q_select_biggest_per_user,
        "select_older_newer_per_user": _q_select_older_newer_per_user,
        "select_smaller_per_user": _q_select_smaller_per_user,
        "select_smallest_per_user": _q_select_smallest_per_user,
        "select_bigger_per_user": _q_select_bigger_per_user,
        "select_all_but_one_per_user": _q_select_all_but_one_per_user,
        "select_paths": _q_select_paths,
        "cascade_newest_then_one": _q_cascade_newest_then_one,
        "reject_filter_by_lang": _q_reject_filter_by_lang,
        "regexp_select": _q_regexp_select,
        "token_stats": _q_token_stats,
        "quality_stats": _q_quality_stats,
        "ngram_jaccard_pairs": _q_ngram_jaccard_pairs,
        "pointer_dedup_exact": _q_pointer_dedup_exact,
        "group_extremes_lineitem": _q_group_extremes_lineitem,
        "embedding_top1_exact": _q_embedding_top1_exact,
        "normalize_text_docs": _q_normalize_text_docs,
        "normalize_keys_docs": _q_normalize_keys_docs,
        "lang_id_docs": _q_lang_id_docs,
        "containment_pairs_docs": _q_containment_pairs_docs,
        "checkpoint_resume_docs": _q_checkpoint_resume_docs,
        "winnow_fingerprints_docs": _q_winnow_fingerprints_docs,
        "minhash_sigs_docs": _q_minhash_sigs_docs,
        "simhash_sigs_docs": _q_simhash_sigs_docs,
        "embedding_lsh_buckets": _q_embedding_lsh_buckets,
        "embedding_ivf_topk": _q_embedding_ivf_topk,
        "embedding_ann_top1": _q_embedding_ann_top1,
        "embedding_dup_clusters": _q_embedding_dup_clusters,
        "minhash_clusters_docs": _q_minhash_clusters_docs,
        "image_dup_docs": _q_image_dup_docs,
        # size-only eviction: the greedy loop is integer-only -> full oracle
        # (recursive-CTE replay)
        "guards_eviction_size_only": _q_guards_eviction_size_only,
        # rows-only (iterative greedy eviction over pairwise ndiff counts —
        # not SQL-expressible)
        "guards_eviction_docs": _q_guards_eviction_docs,
        "repetition_stats_docs": _q_repetition_stats_docs,
        "boilerplate_lines_docs": _q_boilerplate_lines_docs,
        "paragraph_dedup_docs": _q_paragraph_dedup_docs,
        "vocab_topk_docs": _q_vocab_topk_docs,
        "gopher_rules_docs": _q_gopher_rules_docs,
        "decontam_overlap_docs": _q_decontam_overlap_docs,
        "cross_corpus_dedup_docs": _q_cross_corpus_dedup_docs,
        "pii_redact_docs": _q_pii_redact_docs,
        "pii_summary_docs": _q_pii_summary_docs,
        "curation_pass_docs": _q_curation_pass_docs,
        "tiered_dedup_docs": _q_tiered_dedup_docs,
        "pipeline_pass_docs": _q_pipeline_pass_docs,
    }


# --- uint64-in-HUGEINT SQL fragments (shared by the kernel oracles) ---------
# DuckDB has no wrapping uint64: multiply mod 2^64 via 32-bit split (a 64x64
# product overflows HUGEINT), xor via the signed-BIGINT view, logical right
# shift as integer division.
_M64 = 2**64
_H64 = 2**63
_FNV = 1099511628211  # FNV64 prime (tokenhash._B, minhash._POLY_BASE)
_K1 = 0xFF51AFD7ED558CCD  # murmur fmix64 constants (tokenhash._avalanche)
_K2 = 0xC4CEB9FE1A85EC53


def _mul64(a: str, k: int) -> str:
    return (f"((({a}) % 4294967296) * {k} "
            f"+ (((({a}) // 4294967296) * {k}) % 4294967296) "
            f"* 4294967296) % {_M64}")


def _xor64(a: str, b: str) -> str:
    sa = f"(CASE WHEN ({a}) >= {_H64} THEN ({a}) - {_M64} ELSE ({a}) END::BIGINT)"
    sb = f"(CASE WHEN ({b}) >= {_H64} THEN ({b}) - {_M64} ELSE ({b}) END::BIGINT)"
    x = f"xor({sa}, {sb})"
    return f"(CASE WHEN {x} < 0 THEN {x}::HUGEINT + {_M64} ELSE {x}::HUGEINT END)"


# token hash = fmix64(poly(first-24-bytes) ^ min(len,24)) — tokenhash.py
_TOKHASH_POLY = (
    "list_reduce(list_prepend(0::HUGEINT, "
    "list_transform(regexp_extract_all(substring(t, 1, 24), '(?s).'), "
    f"c -> unicode(c)::HUGEINT)), (acc, c) -> (acc * {_FNV} + c) % {_M64})"
)
_SHR33 = "(x // 8589934592)"  # logical >> 33 on the unsigned value


def _simhash_oracle_sql() -> str:
    """DuckDB replay of tokenhash.batch_token_hashes + simhash vote packing:
    FNV polynomial token hash with length fold, fmix64 avalanche, per-bit
    occurrence votes, little-endian packing, two's-complement long."""
    M, H, B, K1, K2 = _M64, _H64, _FNV, _K1, _K2
    mul64, xor64, shr33 = _mul64, _xor64, _SHR33
    return f"""
        WITH tok AS (
            SELECT doc_id::VARCHAR AS url,
                   unnest(list_filter(regexp_split_to_array(
                       lower(coalesce(text, '')), '[^0-9a-z_]+'),
                       t -> t != '')) AS t
            FROM documents
        ), poly AS (
            SELECT url,
                   list_reduce(list_prepend(0::HUGEINT,
                       list_transform(regexp_extract_all(substring(t, 1, 24),
                                                         '(?s).'),
                                      c -> unicode(c)::HUGEINT)),
                       (acc, c) -> (acc * {B} + c) % {M}) AS p,
                   least(length(t), 24)::HUGEINT AS lw
            FROM tok
        ), s0 AS ( SELECT url, {xor64('p', 'lw')} AS x FROM poly
        ), s1 AS ( SELECT url, {xor64('x', shr33)} AS x FROM s0
        ), s2 AS ( SELECT url, {mul64('x', K1)} AS x FROM s1
        ), s3 AS ( SELECT url, {xor64('x', shr33)} AS x FROM s2
        ), s4 AS ( SELECT url, {mul64('x', K2)} AS x FROM s3
        ), h AS ( SELECT url, {xor64('x', shr33)} AS h FROM s4
        ), bitcnt AS (
            SELECT url, j,
                   sum(((h // (1::HUGEINT << j)) % 2)::BIGINT) AS cnt,
                   count(*) AS n
            FROM h, unnest(generate_series(0, 63)) AS bit(j)
            GROUP BY url, j
        ), packed AS (
            SELECT url,
                   sum(CASE WHEN 2 * cnt > n THEN (1::HUGEINT << j)
                            ELSE 0::HUGEINT END) AS u
            FROM bitcnt GROUP BY url
        )
        SELECT d.doc_id::VARCHAR AS url,
               CASE WHEN u IS NULL THEN NULL
                    WHEN u >= {H} THEN (u - {M})::BIGINT
                    ELSE u::BIGINT END AS simhash
        FROM documents d LEFT JOIN packed ON packed.url = d.doc_id::VARCHAR
    """


def _minhash_sig_ctes(src: str = "documents") -> str:
    """Shared DuckDB CTE chain replaying minhash signatures: token hashes
    (as simhash), k=5 shingle combiner (FNV poly mod 2^64, masked to the
    Mersenne-31 field), then per-permutation min of (a*s + b) mod 2^31-1
    with the ACTUAL seeded permutation params embedded as literals
    (minhash._perm_params, seed from DedupConfig). Ends with table
    ``msig(url, pos, sig)``. ``src`` is the (doc_id, text) relation the
    signatures are computed over — ``documents`` for the standalone
    oracles, the curated CTE for the pipeline composite."""
    from pysparkdedup.minhash import _perm_params

    cfg = DedupConfig()
    a_p, b_p = _perm_params(cfg)
    M, B, K1, K2 = _M64, _FNV, _K1, _K2
    P31 = 2147483647
    perm_rows = ", ".join(
        f"({j}, {int(a_p[j])}, {int(b_p[j])})" for j in range(cfg.num_perm))
    poly5 = (f"((((((((hs[i]*{B} + hs[i+1]) % {M})*{B} + hs[i+2]) % {M})*{B}"
             f" + hs[i+3]) % {M})*{B} + hs[i+4]) % {M})")
    return f"""
        tokl AS (
            SELECT doc_id::VARCHAR AS url,
                   list_filter(regexp_split_to_array(
                       lower(coalesce(text, '')), '[^0-9a-z_]+'),
                       t -> t != '') AS toks
            FROM {src}
        ), h0 AS (
            SELECT url, list_transform(toks,
                t -> {_xor64(_TOKHASH_POLY, "least(length(t), 24)::HUGEINT")}
            ) AS hs FROM tokl
        ), h1 AS ( SELECT url, list_transform(hs, x -> {_xor64('x', _SHR33)}) AS hs FROM h0
        ), h2 AS ( SELECT url, list_transform(hs, x -> {_mul64('x', K1)}) AS hs FROM h1
        ), h3 AS ( SELECT url, list_transform(hs, x -> {_xor64('x', _SHR33)}) AS hs FROM h2
        ), h4 AS ( SELECT url, list_transform(hs, x -> {_mul64('x', K2)}) AS hs FROM h3
        ), h5 AS ( SELECT url, list_transform(hs, x -> {_xor64('x', _SHR33)}) AS hs FROM h4
        ), shs AS (
            SELECT url,
                   [ {poly5} % {P31} for i in generate_series(1, len(hs) - 4) ] AS shl
            FROM h5 WHERE len(hs) >= 5
        ), e AS ( SELECT url, unnest(shl) AS s FROM shs
        ), perms(j, a, b) AS ( VALUES {perm_rows} )
        , msig AS (
            SELECT e.url, p.j AS pos,
                   min((p.a * s::BIGINT + p.b) % {P31})::INT AS sig
            FROM e, perms p GROUP BY 1, 2
        )"""


def _minhash_oracle_sql() -> str:
    """Signature values hash-checked (see _minhash_sig_ctes)."""
    return f"WITH {_minhash_sig_ctes()} SELECT url, pos, sig FROM msig"


def _minhash_clusters_oracle_sql() -> str:
    """DuckDB replay of the engine's HEADLINE output — minhash cluster
    assignments: signatures (shared CTEs) -> LSH banding (slice equality ==
    band-hash equality modulo 64-bit xxhash collisions, which the jaccard
    verify makes inert) -> full pairwise candidates per bucket (exact at
    sf0.01: max band bucket is 3 << max_bucket_size, so the salted-star
    degrade path never fires) -> signature-jaccard verify -> min-label
    union-find as a WITH RECURSIVE transitive closure (the same fixpoint
    components.py:79-97 runs; closure is affordable at oracle scale)."""
    cfg = DedupConfig()
    r, b = cfg.lsh_rows, cfg.lsh_bands
    # integer form of (matches / num_perm >= threshold), exact at the float
    # boundary because matches/num_perm is a dyadic rational
    m = min(k for k in range(cfg.num_perm + 1)
            if k / cfg.num_perm >= cfg.jaccard_threshold)
    return f"""
        WITH RECURSIVE {_minhash_sig_ctes()},
        sigv AS (
            SELECT url, list(sig ORDER BY pos) AS sig FROM msig GROUP BY url
        ),
        bands AS (
            SELECT url, i AS band_id, sig[i*{r}+1 : i*{r}+{r}] AS bslice
            FROM sigv, unnest(generate_series(0, {b - 1})) AS t(i)
        ),
        cand AS (
            SELECT x.url AS a, y.url AS b
            FROM bands x JOIN bands y
              ON x.band_id = y.band_id AND x.bslice = y.bslice
             AND x.url < y.url
            GROUP BY 1, 2
        ),
        edges AS (
            SELECT c.a, c.b
            FROM cand c
            JOIN sigv sa ON sa.url = c.a
            JOIN sigv sb ON sb.url = c.b
            WHERE len(list_filter(generate_series(1, {cfg.num_perm}),
                                  i -> sa.sig[i] = sb.sig[i])) >= {m}
        ),
        sym AS (
            SELECT a AS src, b AS dst FROM edges
            UNION ALL
            SELECT b AS src, a AS dst FROM edges
        ),
        walk(node, label) AS (
            SELECT dst, dst FROM sym
            UNION
            SELECT s.dst, w.label FROM sym s JOIN walk w ON s.src = w.node
        )
        SELECT node AS url, 'cc:' || min(label) AS cluster_key
        FROM walk GROUP BY node
    """


def _image_dup_oracle_sql() -> str:
    """DuckDB replay of the dHash image near-dup query: rebuild each doc's
    9x8 grid from the shared (doc_id, x, y) pixel formula (scale and the PNG
    encode/decode round-trip are invisible to the hash by construction — the
    box resample of an s x s constant-block image IS the grid), pack the
    horizontal gradient sign bits little-endian into a two's-complement
    BIGINT, take ALL pairs at bit_count(xor) <= k (exact at oracle scale;
    the engine's pigeonhole blocking has exact recall at the same k and its
    bucket cap never fires at family size ~= N/37), and close the edge set
    into min-label components with the same recursive closure the minhash
    clusters oracle uses."""
    fam, pert, k = _IMG_FAMILIES, _IMG_PERTURB_MOD, _IMG_HAMMING_K
    return f"""
        WITH RECURSIVE gx AS (SELECT unnest(generate_series(0, 8)) AS x),
        gy AS (SELECT unnest(generate_series(0, 7)) AS y),
        grid AS (
            SELECT d.doc_id::VARCHAR AS url, x, y,
                   ((d.doc_id % {fam})*x*x*29 + (d.doc_id % {fam})*y*13
                    + x*x*31 + y*y*17 + x*y*7
                    + (d.doc_id % {fam})*(d.doc_id % {fam})*11
                    + CASE WHEN d.doc_id % {pert} = 0
                                AND x = d.doc_id % 9 AND y = d.doc_id % 8
                           THEN 96 ELSE 0 END) % 256 AS v
            FROM documents d, gx, gy
        ),
        gbits AS (
            SELECT a.url, a.y * 8 + a.x AS j
            FROM grid a JOIN grid b
              ON b.url = a.url AND b.y = a.y AND b.x = a.x + 1
            WHERE a.v > b.v
        ),
        packed AS (
            SELECT d.doc_id::VARCHAR AS url,
                   coalesce(sum(1::HUGEINT << j), 0::HUGEINT) AS u
            FROM documents d
            LEFT JOIN gbits ON gbits.url = d.doc_id::VARCHAR
            GROUP BY 1
        ),
        dsig AS (
            SELECT url,
                   CASE WHEN u >= {_H64} THEN (u - {_M64})::BIGINT
                        ELSE u::BIGINT END AS dhash
            FROM packed
        ),
        dedges AS (
            SELECT a.url AS ea, b.url AS eb
            FROM dsig a JOIN dsig b ON a.url < b.url
            WHERE bit_count(xor(a.dhash, b.dhash)) <= {k}
        ),
        dsym AS (
            SELECT ea AS src, eb AS dst FROM dedges
            UNION ALL
            SELECT eb AS src, ea AS dst FROM dedges
        ),
        dwalk(node, label) AS (
            SELECT dst, dst FROM dsym
            UNION
            SELECT s.dst, w.label FROM dsym s JOIN dwalk w ON s.src = w.node
        ),
        dcc AS (
            SELECT node AS url, 'cc:' || min(label) AS cluster_key
            FROM dwalk GROUP BY node
        )
        SELECT s.url, s.dhash,
               coalesce(dcc.cluster_key, 'cc:' || s.url) AS cluster_key
        FROM dsig s LEFT JOIN dcc ON dcc.url = s.url
    """


def _cross_corpus_oracle_sql() -> str:
    """DuckDB replay of crosscorpus.dedup_against over an even/odd doc_id
    split (old/new). Exact: normalized content hash vs the old corpus's
    hash -> min(url) map. Near: the shared signature CTEs (bit-exact minhash
    replay) -> band-slice equality join (== band-hash equality modulo 64-bit
    xxhash collisions, inert here as in the clusters oracle) -> match-count
    verify -> best (highest jaccard, then min old url) via row_number. The
    engine's hot-bucket representative degrade never fires at contract scale
    (max band bucket is 3 << cap 2000), so the full join IS the engine's
    plan; jaccard = m/64 terminates in 6 decimal digits, and both engines
    round half-away-from-zero at 4 decimals."""
    cfg = DedupConfig()
    r, b = cfg.lsh_rows, cfg.lsh_bands
    m = min(k for k in range(cfg.num_perm + 1)
            if k / cfg.num_perm >= cfg.jaccard_threshold)
    return f"""
        WITH {_minhash_sig_ctes()},
        sigv AS (
            SELECT url, list(sig ORDER BY pos) AS sig FROM msig GROUP BY url
        ),
        docs2 AS (
            SELECT doc_id::VARCHAR AS url, doc_id % 2 = 0 AS is_old,
                   sha256(regexp_replace(text, '\\s', '', 'g')) AS ch
            FROM documents
        ),
        old_rep AS (
            SELECT ch, min(url) AS old_url FROM docs2 WHERE is_old GROUP BY ch
        ),
        newdocs AS (SELECT url, ch FROM docs2 WHERE NOT is_old),
        exact AS (
            SELECT n.url, r.old_url FROM newdocs n
            JOIN old_rep r ON r.ch = n.ch
        ),
        bands AS (
            SELECT url, i AS band_id, sig[i*{r}+1 : i*{r}+{r}] AS bslice
            FROM sigv, unnest(generate_series(0, {b - 1})) AS t(i)
        ),
        nb AS (
            SELECT bd.* FROM bands bd
            JOIN newdocs n ON n.url = bd.url
            WHERE bd.url NOT IN (SELECT url FROM exact)
        ),
        ob AS (
            SELECT bd.* FROM bands bd
            JOIN docs2 d ON d.url = bd.url AND d.is_old
        ),
        cand AS (
            SELECT DISTINCT nb.url, ob.url AS old_url
            FROM nb JOIN ob
              ON nb.band_id = ob.band_id AND nb.bslice = ob.bslice
        ),
        near AS (
            SELECT url, old_url, m FROM (
                SELECT c.url, c.old_url,
                       len(list_filter(generate_series(1, {cfg.num_perm}),
                           i -> sa.sig[i] = sb.sig[i])) AS m
                FROM cand c
                JOIN sigv sa ON sa.url = c.url
                JOIN sigv sb ON sb.url = c.old_url
            ) WHERE m >= {m}
        ),
        best AS (
            SELECT url, old_url, m FROM (
                SELECT *, row_number() OVER (PARTITION BY url
                          ORDER BY m DESC, old_url ASC) AS rn
                FROM near
            ) WHERE rn = 1
        )
        SELECT n.url,
               CASE WHEN e.old_url IS NOT NULL THEN 'exact_dup'
                    WHEN bs.old_url IS NOT NULL THEN 'near_dup'
                    ELSE 'unique' END AS status,
               coalesce(e.old_url, bs.old_url) AS dup_of,
               CASE WHEN e.old_url IS NOT NULL THEN 1.0
                    ELSE round(bs.m / {cfg.num_perm}.0, 4) END AS jaccard
        FROM newdocs n
        LEFT JOIN exact e ON e.url = n.url
        LEFT JOIN best bs ON bs.url = n.url
    """


def _emb_bucket_ctes(n_tables: int, n_bits: int, seed: int = 42) -> str:
    """DuckDB CTE chain replaying similarity.hyperplane_buckets bit-exactly.

    The plane entry for (table t, bit j, 1-based dim d) is +1 when
    ((a[t,j]*d + b[t,j]) mod 2^31-1) is even, else -1 — the ACTUAL seeded
    coefficients (similarity.plane_coeffs) embedded as literals, the same
    trick as the minhash permutation oracle. Ends with table
    ``ebuckets(vec_id, table_id, bucket)``.

    The dot reduction is a PINNED left fold on BOTH sides (r4 advice
    closed): the engine accumulates dims 0..d-1 sequentially (vectorized
    across the batch, similarity.hyperplane_buckets) and this replay folds
    the same order via list_reduce((acc, v) -> acc + v) over the
    per-element products — identical IEEE-754 double operation sequences,
    so even a projection arbitrarily close to zero gets the same sign in
    both engines. (cosine_pairs_exact pins its fold the same way.)"""
    from pysparkdedup.similarity import _PLANE_M, plane_coeffs

    a, b = plane_coeffs(n_tables, n_bits, seed)
    rows = ", ".join(
        f"({t},{j},{int(a[t, j])},{int(b[t, j])})"
        for t in range(n_tables) for j in range(n_bits))
    return f"""
        eproj AS (
            SELECT e.vec_id, p.t, p.j,
                   list_reduce(
                       list_transform(e.embedding, (x, d) ->
                           x::DOUBLE * (CASE WHEN ((p.pa * d + p.pb)
                                                   % {_PLANE_M}) % 2 = 0
                                        THEN 1 ELSE -1 END)),
                       (acc, v) -> acc + v) AS dot
            FROM embeddings e, (VALUES {rows}) AS p(t, j, pa, pb)
        ), ebuckets AS (
            SELECT vec_id, t::INTEGER AS table_id,
                   SUM(CASE WHEN dot > 0 THEN (1::BIGINT << j)
                       ELSE 0::BIGINT END)::BIGINT AS bucket
            FROM eproj GROUP BY 1, 2
        )"""


_DUCK_COSINE = """list_dot_product({x}.embedding::DOUBLE[], {y}.embedding::DOUBLE[])
               / (sqrt(list_dot_product({x}.embedding::DOUBLE[], {x}.embedding::DOUBLE[]))
                  * sqrt(list_dot_product({y}.embedding::DOUBLE[], {y}.embedding::DOUBLE[])))"""


def _emb_buckets_oracle_sql() -> str:
    """Bucket values hash-checked (see _emb_bucket_ctes)."""
    return (f"WITH {_emb_bucket_ctes(4, 8)} "
            "SELECT vec_id, table_id, bucket FROM ebuckets")


def _emb_ann_top1_oracle_sql() -> str:
    """DuckDB replay of similarity.lsh_topk: shared hash-deterministic
    buckets for corpus and queries (vec_id < 20), corpus buckets over
    max_bucket=4096 dropped (inert at sf0.01 — max bucket is 19 — but
    faithful to the skew guard), distinct candidates, exact-cosine re-rank
    with (cosine DESC, vec_id ASC) ties, k=3."""
    cos = _DUCK_COSINE.format(x="qe", y="ce")
    return f"""
        WITH {_emb_bucket_ctes(16, 6)},
        bsizes AS (
            SELECT table_id, bucket, count(*) AS _bsize
            FROM ebuckets GROUP BY 1, 2
        ),
        cold AS (
            SELECT eb.* FROM ebuckets eb
            JOIN bsizes s ON s.table_id = eb.table_id AND s.bucket = eb.bucket
            WHERE s._bsize <= 4096
        ),
        cand AS (
            SELECT q.vec_id AS query_id, c.vec_id
            FROM ebuckets q
            JOIN cold c ON c.table_id = q.table_id AND c.bucket = q.bucket
            WHERE q.vec_id < 20
            GROUP BY 1, 2
        ),
        scored AS (
            SELECT cand.query_id, cand.vec_id, {cos} AS cosine
            FROM cand
            JOIN embeddings qe ON qe.vec_id = cand.query_id
            JOIN embeddings ce ON ce.vec_id = cand.vec_id
        )
        SELECT query_id, vec_id, rank FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, vec_id ASC)
                       ::INTEGER AS rank
            FROM scored)
        WHERE rank <= 3
    """


def _emb_ivf_top1_oracle_sql() -> str:
    """DuckDB replay of similarity.ivf_topk: hash-sampled centroids (the
    n_list=16 smallest (a*(vec_id mod M)+b) mod M, M=2^31-1, with the
    ACTUAL seeded (a, b) as literals), corpus assigned to its 1 nearest
    list and queries (vec_id < 20) to their nprobe=4 nearest lists by
    (cosine DESC, list_id ASC), exact-cosine re-rank, k=3."""
    from pysparkdedup.similarity import _PLANE_M, plane_coeffs

    a, b = (int(x[0, 0]) for x in plane_coeffs(1, 1, seed=42))
    cos_cent = _DUCK_COSINE.format(x="e", y="c")
    cos = _DUCK_COSINE.format(x="qe", y="ce")
    return f"""
        WITH cent AS (
            SELECT vec_id AS list_id, embedding FROM embeddings
            ORDER BY ({a} * (vec_id % {_PLANE_M}) + {b}) % {_PLANE_M}, vec_id
            LIMIT 16
        ),
        ranked AS (
            SELECT e.vec_id, c.list_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {cos_cent} DESC, c.list_id ASC) AS rn
            FROM embeddings e, cent c
        ),
        corpus_lists AS (SELECT vec_id, list_id FROM ranked WHERE rn = 1),
        query_lists AS (
            SELECT vec_id AS query_id, list_id FROM ranked
            WHERE rn <= 4 AND vec_id < 20
        ),
        cand AS (
            SELECT q.query_id, cl.vec_id
            FROM query_lists q JOIN corpus_lists cl USING (list_id)
            GROUP BY 1, 2
        ),
        scored AS (
            SELECT cand.query_id, cand.vec_id, {cos} AS cosine
            FROM cand
            JOIN embeddings qe ON qe.vec_id = cand.query_id
            JOIN embeddings ce ON ce.vec_id = cand.vec_id
        )
        SELECT query_id, vec_id, rank FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, vec_id ASC)
                       ::INTEGER AS rank
            FROM scored)
        WHERE rank <= 3
    """


def _emb_ivf_lloyd_top1_oracle_sql() -> str:
    """DuckDB replay of similarity.ivf_topk(lloyd_iters=1): the sampled
    centroids (same literals as the zero-iteration oracle), corpus assigned
    rn=1 by (cosine DESC, list_id ASC), refined centroid = per-dimension
    AVG of each list (COALESCE keeps the sampled centroid for an empty
    list), then the standard nprobe=4 / k=3 search against the REFINED
    centroids."""
    from pysparkdedup.similarity import _PLANE_M, plane_coeffs

    a, b = (int(x[0, 0]) for x in plane_coeffs(1, 1, seed=42))
    cos_cent0 = _DUCK_COSINE.format(x="e", y="c")
    cos = _DUCK_COSINE.format(x="qe", y="ce")
    # one side is already a DOUBLE[] list (the refined centroid)
    cos_cent1 = """list_dot_product(e.embedding::DOUBLE[], c.centroid)
               / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(c.centroid, c.centroid)))"""
    return f"""
        WITH cent AS (
            SELECT vec_id AS list_id, embedding FROM embeddings
            ORDER BY ({a} * (vec_id % {_PLANE_M}) + {b}) % {_PLANE_M}, vec_id
            LIMIT 16
        ),
        ranked0 AS (
            SELECT e.vec_id, c.list_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {cos_cent0} DESC, c.list_id ASC) AS rn
            FROM embeddings e, cent c
        ),
        assign0 AS (SELECT vec_id, list_id FROM ranked0 WHERE rn = 1),
        dims AS (
            SELECT a0.list_id,
                   generate_subscripts(e.embedding, 1) AS d,
                   unnest(e.embedding)::DOUBLE AS val
            FROM assign0 a0 JOIN embeddings e ON e.vec_id = a0.vec_id
        ),
        means AS (SELECT list_id, d, avg(val) AS m FROM dims GROUP BY 1, 2),
        rcent AS (SELECT list_id, list(m ORDER BY d) AS centroid
                  FROM means GROUP BY 1),
        cent1 AS (
            SELECT c.list_id,
                   COALESCE(r.centroid, c.embedding::DOUBLE[]) AS centroid
            FROM cent c LEFT JOIN rcent r USING (list_id)
        ),
        ranked AS (
            SELECT e.vec_id, c.list_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {cos_cent1} DESC, c.list_id ASC) AS rn
            FROM embeddings e, cent1 c
        ),
        corpus_lists AS (SELECT vec_id, list_id FROM ranked WHERE rn = 1),
        query_lists AS (
            SELECT vec_id AS query_id, list_id FROM ranked
            WHERE rn <= 4 AND vec_id < 20
        ),
        cand AS (
            SELECT q.query_id, cl.vec_id
            FROM query_lists q JOIN corpus_lists cl USING (list_id)
            GROUP BY 1, 2
        ),
        scored AS (
            SELECT cand.query_id, cand.vec_id, {cos} AS cosine
            FROM cand
            JOIN embeddings qe ON qe.vec_id = cand.query_id
            JOIN embeddings ce ON ce.vec_id = cand.vec_id
        )
        SELECT query_id, vec_id, rank FROM (
            SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, vec_id ASC)
                       ::INTEGER AS rank
            FROM scored)
        WHERE rank <= 3
    """


def _emb_ivf_topk_oracle_sql() -> str:
    """The SURVEY §8 fold of the two IVF oracles into one slot: the
    lloyd_iters=0 and lloyd_iters=1 replays (each unchanged — see
    _emb_ivf_top1_oracle_sql / _emb_ivf_lloyd_top1_oracle_sql for the
    stage-by-stage commentary) full-outer-joined on (query_id, rank),
    mirroring _q_embedding_ivf_topk's join exactly. Both sides emit k
    rows per query over the same grid, so the join is 1:1 — a null in
    either vec_id column is a loud invariant break, not a silent drop."""
    return f"""
        SELECT COALESCE(r0.query_id, r1.query_id) AS query_id,
               COALESCE(r0.rank, r1.rank) AS rank,
               r0.vec_id AS vec_id_sampled,
               r1.vec_id AS vec_id_lloyd
        FROM ({_emb_ivf_top1_oracle_sql()}) r0
        FULL OUTER JOIN ({_emb_ivf_lloyd_top1_oracle_sql()}) r1
          ON r0.query_id = r1.query_id AND r0.rank = r1.rank
    """


def _emb_dup_clusters_oracle_sql() -> str:
    """DuckDB replay of similarity.embedding_dup_clusters: buckets ->
    cold-path pairwise candidates (bucket size in [2, 256]) -> exact-cosine
    >= 0.35 verify -> min-label union-find as a recursive-CTE transitive
    closure (same fixpoint components.py runs; vec_ids compare as strings
    there, and min over VARCHAR is the same lexicographic order).

    Cap-overflow guard (advice r3): the ENGINE degrades a bucket larger
    than the cap to salted-star edges that preserve connectivity, while
    this replay only walks cold buckets — the two agree ONLY while no
    bucket exceeds the cap (max bucket is 19 at sf0.01). Rather than
    silently diverging at a larger sf, the oracle emits a sentinel row per
    overflowing bucket, forcing a loud row-count/hash mismatch that says
    exactly what happened."""
    cos = _DUCK_COSINE.format(x="ea", y="eb")
    return f"""
        WITH RECURSIVE {_emb_bucket_ctes(16, 6)},
        bsizes AS (
            SELECT table_id, bucket, count(*) AS _bsize
            FROM ebuckets GROUP BY 1, 2
        ),
        coldb AS (
            SELECT table_id, bucket FROM bsizes
            WHERE _bsize >= 2 AND _bsize <= 256
        ),
        capviol AS (
            SELECT table_id, bucket FROM bsizes WHERE _bsize > 256
        ),
        cand AS (
            SELECT x.vec_id AS a, y.vec_id AS b
            FROM coldb
            JOIN ebuckets x ON x.table_id = coldb.table_id
                           AND x.bucket = coldb.bucket
            JOIN ebuckets y ON y.table_id = coldb.table_id
                           AND y.bucket = coldb.bucket
                           AND x.vec_id < y.vec_id
            GROUP BY 1, 2
        ),
        edges AS (
            SELECT cand.a, cand.b FROM cand
            JOIN embeddings ea ON ea.vec_id = cand.a
            JOIN embeddings eb ON eb.vec_id = cand.b
            WHERE {cos} >= 0.35
        ),
        sym AS (
            SELECT a::VARCHAR AS src, b::VARCHAR AS dst FROM edges
            UNION ALL
            SELECT b::VARCHAR AS src, a::VARCHAR AS dst FROM edges
        ),
        walk(node, label) AS (
            SELECT dst, dst FROM sym
            UNION
            SELECT s.dst, w.label FROM sym s JOIN walk w ON s.src = w.node
        )
        SELECT node AS url, 'cc:' || min(label) AS cluster_key
        FROM walk GROUP BY node
        UNION ALL
        SELECT 'ORACLE_BUCKET_CAP_EXCEEDED:' || table_id || ':' || bucket
                   AS url,
               'replay-invalid-above-cap' AS cluster_key
        FROM capviol
    """


def _repetition_profile_oracle_sql(ns: tuple[int, ...]) -> str:
    """Replays repetition_profile for every n in ``ns``: tokenize once,
    then per n group grams, rank the top gram by (count, char length —
    gram text as a formal third key matching the historical struct
    order; it cannot change the count*len product), and round the two
    char-fraction ratios to 4 decimals. Mirrors the engine's single
    shared tokenization with one ``toks`` CTE feeding per-n CTE chains."""
    parts = [r"""
            WITH toks AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                                   '\s+'), t -> t != '') AS ts
                FROM documents
            )"""]
    selects = ["d.doc_id"]
    joins = ["FROM documents d"]
    for n in ns:
        parts.append(f"""
            , grams_{n} AS (
                SELECT doc_id, array_to_string(ts[i:i+{n - 1}], ' ') AS gram
                FROM (SELECT doc_id, ts,
                             unnest(generate_series(1,
                                 greatest(len(ts) - {n - 1}, 0))) AS i
                      FROM toks)
            ), per_gram_{n} AS (
                SELECT doc_id, gram, count(*) AS cnt, length(gram) AS glen
                FROM grams_{n} GROUP BY doc_id, gram
            ), ranked_{n} AS (
                SELECT *, row_number() OVER (PARTITION BY doc_id
                          ORDER BY cnt DESC, glen DESC, gram DESC) AS rn
                FROM per_gram_{n}
            ), stats_{n} AS (
                SELECT doc_id, sum(cnt) AS n_grams, count(*) AS distinct_grams,
                       sum(cnt * glen) AS total_chars,
                       sum(CASE WHEN cnt >= 2 THEN cnt * glen ELSE 0 END)
                           AS dup_chars
                FROM per_gram_{n} GROUP BY doc_id
            ), top_{n} AS (
                SELECT doc_id, cnt * glen AS top_chars
                FROM ranked_{n} WHERE rn = 1
            )""")
        selects += [
            f"coalesce(s{n}.n_grams, 0)::BIGINT AS n_grams_{n}",
            f"coalesce(s{n}.distinct_grams, 0)::BIGINT AS distinct_grams_{n}",
            f"coalesce(round(t{n}.top_chars"
            f" / greatest(s{n}.total_chars, 1)::DOUBLE, 4), 0.0)"
            f" AS top_gram_frac_{n}",
            f"coalesce(round(s{n}.dup_chars"
            f" / greatest(s{n}.total_chars, 1)::DOUBLE, 4), 0.0)"
            f" AS dup_gram_frac_{n}",
        ]
        joins += [
            f"LEFT JOIN stats_{n} s{n} ON s{n}.doc_id = d.doc_id",
            f"LEFT JOIN top_{n} t{n} ON t{n}.doc_id = d.doc_id",
        ]
    return ("".join(parts)
            + "\n            SELECT " + ",\n                   ".join(selects)
            + "\n            " + "\n            ".join(joins))


def _tiered_oracle_sql(pre: str = "", src: str = "documents") -> str:
    """DuckDB replay of tiers.tiered_dedup — the three-tier cascade as one
    nested-CTE pipeline over the SAME shared kernel replays the per-tier
    oracles use (signatures are per-doc and corpus-independent, so each
    tier's replay just RESTRICTS the shared CTEs to the previous tier's
    survivor set, exactly as the engine feeds each tier only survivors):

    - exact: ws-stripped sha256 groups (null/blank keyed by own url),
      winner = min(url);
    - near:  the minhash signature CTEs -> banding -> pairwise candidates ->
      integer jaccard verify -> recursive-CTE union-find, with sigv
      restricted to exact survivors;
    - semantic: the sign-LSH bucket CTEs restricted to near survivors ->
      cold-bucket candidates -> exact-cosine >= 0.35 -> union-find; same
      cap-overflow sentinel posture as the embedding-clusters oracle.

    kept_by chain resolution replays tiers._resolve: near losers re-point
    through semantic losers; exact losers through near then semantic.

    ``pre`` prepends extra CTEs (trailing comma included by the caller)
    and ``src`` names the (doc_id, text) relation the cascade runs over —
    the pipeline composite passes the curated-text CTE so the SAME chain
    replays dedup-after-curation."""
    cfg = DedupConfig()
    r, b = cfg.lsh_rows, cfg.lsh_bands
    m = min(k for k in range(cfg.num_perm + 1)
            if k / cfg.num_perm >= cfg.jaccard_threshold)
    cos = _DUCK_COSINE.format(x="ea", y="eb")
    return f"""
        WITH RECURSIVE {pre}{_minhash_sig_ctes(src)},
        {_emb_bucket_ctes(16, 6)},
        docs0 AS (
            SELECT doc_id::VARCHAR AS url, text FROM {src}
        ),
        ek AS MATERIALIZED (
            SELECT url,
                   CASE WHEN text IS NULL OR length(trim(text)) = 0
                        THEN url
                        ELSE sha256(regexp_replace(text, '\\s', '', 'g'))
                   END AS h
            FROM docs0
        ),
        ew AS ( SELECT h, min(url) AS w FROM ek GROUP BY h ),
        l_exact AS MATERIALIZED (
            SELECT ek.url, ew.w AS kept_by
            FROM ek JOIN ew USING (h) WHERE ek.url <> ew.w
        ),
        surv1 AS MATERIALIZED (
            SELECT url FROM docs0
            WHERE url NOT IN (SELECT url FROM l_exact)
        ),
        sigv AS MATERIALIZED (
            SELECT url, list(sig ORDER BY pos) AS sig FROM msig
            WHERE url IN (SELECT url FROM surv1)
            GROUP BY url
        ),
        bands AS MATERIALIZED (
            SELECT url, i AS band_id, sig[i*{r}+1 : i*{r}+{r}] AS bslice
            FROM sigv, unnest(generate_series(0, {b - 1})) AS t(i)
        ),
        ncand AS MATERIALIZED (
            SELECT x.url AS a, y.url AS b
            FROM bands x JOIN bands y
              ON x.band_id = y.band_id AND x.bslice = y.bslice
             AND x.url < y.url
            GROUP BY 1, 2
        ),
        nedges AS MATERIALIZED (
            SELECT c.a, c.b
            FROM ncand c
            JOIN sigv sa ON sa.url = c.a
            JOIN sigv sb ON sb.url = c.b
            WHERE len(list_filter(generate_series(1, {cfg.num_perm}),
                                  i -> sa.sig[i] = sb.sig[i])) >= {m}
        ),
        nsym AS (
            SELECT a AS src, b AS dst FROM nedges
            UNION ALL
            SELECT b AS src, a AS dst FROM nedges
        ),
        nwalk(node, label) AS (
            SELECT dst, dst FROM nsym
            UNION
            SELECT s.dst, w.label FROM nsym s JOIN nwalk w ON s.src = w.node
        ),
        nearc AS MATERIALIZED (
            SELECT node AS url, min(label) AS lbl FROM nwalk GROUP BY node
        ),
        nw AS MATERIALIZED ( SELECT lbl, min(url) AS w FROM nearc GROUP BY lbl ),
        l_near AS MATERIALIZED (
            SELECT n.url, nw.w AS kept_by
            FROM nearc n JOIN nw USING (lbl) WHERE n.url <> nw.w
        ),
        surv2 AS MATERIALIZED (
            SELECT url FROM surv1
            WHERE url NOT IN (SELECT url FROM l_near)
        ),
        ebk AS MATERIALIZED (
            SELECT * FROM ebuckets
            WHERE vec_id::VARCHAR IN (SELECT url FROM surv2)
        ),
        bsizes AS MATERIALIZED (
            SELECT table_id, bucket, count(*) AS _bsize
            FROM ebk GROUP BY 1, 2
        ),
        coldb AS MATERIALIZED (
            SELECT table_id, bucket FROM bsizes
            WHERE _bsize >= 2 AND _bsize <= 256
        ),
        capviol AS MATERIALIZED (
            SELECT table_id, bucket FROM bsizes WHERE _bsize > 256
        ),
        scand AS MATERIALIZED (
            SELECT x.vec_id AS a, y.vec_id AS b
            FROM coldb
            JOIN ebk x ON x.table_id = coldb.table_id
                      AND x.bucket = coldb.bucket
            JOIN ebk y ON y.table_id = coldb.table_id
                      AND y.bucket = coldb.bucket
                      AND x.vec_id < y.vec_id
            GROUP BY 1, 2
        ),
        sedges AS MATERIALIZED (
            SELECT scand.a, scand.b FROM scand
            JOIN embeddings ea ON ea.vec_id = scand.a
            JOIN embeddings eb ON eb.vec_id = scand.b
            WHERE {cos} >= 0.35
        ),
        ssym AS (
            SELECT a::VARCHAR AS src, b::VARCHAR AS dst FROM sedges
            UNION ALL
            SELECT b::VARCHAR AS src, a::VARCHAR AS dst FROM sedges
        ),
        swalk(node, label) AS (
            SELECT dst, dst FROM ssym
            UNION
            SELECT s.dst, w.label FROM ssym s JOIN swalk w ON s.src = w.node
        ),
        semc AS MATERIALIZED (
            SELECT node AS url, min(label) AS lbl FROM swalk GROUP BY node
        ),
        sw AS MATERIALIZED ( SELECT lbl, min(url) AS w FROM semc GROUP BY lbl ),
        l_sem AS MATERIALIZED (
            SELECT c.url, sw.w AS kept_by
            FROM semc c JOIN sw USING (lbl) WHERE c.url <> sw.w
        ),
        l_near_f AS MATERIALIZED (
            SELECT l.url, coalesce(s.kept_by, l.kept_by) AS kept_by
            FROM l_near l LEFT JOIN l_sem s ON s.url = l.kept_by
        ),
        l_exact_n AS MATERIALIZED (
            SELECT l.url, coalesce(n.kept_by, l.kept_by) AS kept_by
            FROM l_exact l LEFT JOIN l_near n ON n.url = l.kept_by
        ),
        l_exact_f AS MATERIALIZED (
            SELECT l.url, coalesce(s.kept_by, l.kept_by) AS kept_by
            FROM l_exact_n l LEFT JOIN l_sem s ON s.url = l.kept_by
        ),
        ledger AS MATERIALIZED (
            SELECT url, 'exact' AS tier, kept_by FROM l_exact_f
            UNION ALL
            SELECT url, 'near' AS tier, kept_by FROM l_near_f
            UNION ALL
            SELECT url, 'semantic' AS tier, kept_by FROM l_sem
        )
        SELECT url, tier, kept_by FROM ledger
        UNION ALL
        SELECT url, 'kept' AS tier, url AS kept_by FROM docs0
        WHERE url NOT IN (SELECT url FROM ledger)
        UNION ALL
        SELECT 'ORACLE_BUCKET_CAP_EXCEEDED:' || table_id || ':' || bucket
                   AS url,
               'replay-invalid-above-cap' AS tier,
               '' AS kept_by
        FROM capviol
    """


def _guards_eviction_size_only_oracle_sql() -> str:
    """Exact replay of guards._evict_group with content_threshold=-1: every
    offense is an integer size comparison, so the greedy loop is simulated as
    a recursive CTE — each recursion step evicts one member per still-active
    group from its max-degree body class (degree = remaining members of
    offending classes; tie-break on the class's next-to-evict min url, i.e.
    the member at row_number e+1). A group drops out of the recursion when no
    class has positive degree; final per-class eviction counts are MAX(e).
    Whole-set skip (survivors < 2) and the oversized-group skip replay the
    kernel's 'size' kind (with content off, any entry into eviction implies a
    spread breach). Validated row-identical against _evict_group on synthetic
    multi-class groups before wiring (see tests/test_guards.py property
    tests for the kernel itself)."""
    from pysparkdedup.guards import MAX_EVICTION_GROUP

    st = 100
    return f"""
        WITH RECURSIVE
        members AS (
            SELECT doc_id::VARCHAR AS url,
                   COALESCE(lang, 'und') AS ck,
                   n_chars AS sz,
                   sha256(COALESCE(text, '')) AS rh
            FROM documents
        ),
        grp AS (SELECT ck, COUNT(*) AS n, MAX(sz) - MIN(sz) AS spread
                FROM members GROUP BY ck),
        -- short-circuit: a group passes when n==1 or spread<=threshold
        susp AS (SELECT ck, n FROM grp WHERE n > 1 AND spread > {st}),
        overs AS (SELECT ck FROM susp WHERE n > {MAX_EVICTION_GROUP}),
        elig AS (SELECT ck, n FROM susp WHERE n <= {MAX_EVICTION_GROUP}),
        cls AS (
            SELECT m.ck, m.rh AS c, MAX(m.sz) AS sz, COUNT(*) AS cnt
            FROM members m JOIN elig e ON e.ck = m.ck GROUP BY m.ck, m.rh),
        adj AS (
            SELECT a.ck, a.c AS ca, b.c AS cb
            FROM cls a JOIN cls b ON a.ck = b.ck AND a.c <> b.c
            WHERE ABS(a.sz - b.sz) > {st}),
        mord AS (
            SELECT m.ck, m.rh AS c, m.url,
                   ROW_NUMBER() OVER (PARTITION BY m.ck, m.rh ORDER BY m.url)
                       AS rn
            FROM members m JOIN elig e ON e.ck = m.ck),
        ev AS (
            SELECT ck, c, CAST(0 AS BIGINT) AS e FROM cls
            UNION ALL
            SELECT s.ck, s.c, s.e + CASE WHEN s.c = p.c THEN 1 ELSE 0 END
            FROM ev s
            JOIN (
                SELECT ck, c FROM (
                    SELECT d.ck, d.c,
                           ROW_NUMBER() OVER (PARTITION BY d.ck
                               ORDER BY d.deg DESC, d.head) AS pick
                    FROM (
                        SELECT e1.ck, e1.c, SUM(c2.cnt - e2.e) AS deg,
                               mo.url AS head
                        FROM ev e1
                        JOIN cls c1 ON c1.ck = e1.ck AND c1.c = e1.c
                        JOIN adj ad ON ad.ck = e1.ck AND ad.ca = e1.c
                        JOIN ev e2 ON e2.ck = e1.ck AND e2.c = ad.cb
                        JOIN cls c2 ON c2.ck = e2.ck AND c2.c = e2.c
                        JOIN mord mo ON mo.ck = e1.ck AND mo.c = e1.c
                                    AND mo.rn = e1.e + 1
                        WHERE c1.cnt - e1.e > 0
                        GROUP BY e1.ck, e1.c, mo.url
                        HAVING SUM(c2.cnt - e2.e) > 0
                    ) d
                ) WHERE pick = 1
            ) p ON p.ck = s.ck
        ),
        fin AS (SELECT ck, c, MAX(e) AS e FROM ev GROUP BY ck, c),
        tot AS (SELECT f.ck, SUM(f.e) AS tot_ev, MAX(el.n) AS n
                FROM fin f JOIN elig el ON el.ck = f.ck GROUP BY f.ck),
        whole_skip AS (SELECT ck FROM tot WHERE tot_ev >= 1 AND n - tot_ev < 2),
        evicted_urls AS (
            SELECT mo.ck, mo.url FROM mord mo
            JOIN fin f ON f.ck = mo.ck AND f.c = mo.c
            WHERE mo.rn <= f.e
              AND mo.ck NOT IN (SELECT ck FROM whole_skip)
        )
        SELECT m.url AS url,
               (e2.url IS NOT NULL) AS evicted,
               CASE WHEN m.ck IN (SELECT ck FROM overs) THEN 'size'
                    WHEN m.ck IN (SELECT ck FROM whole_skip) THEN 'size'
                    END AS guard_skip_kind
        FROM members m
        LEFT JOIN evicted_urls e2 ON e2.ck = m.ck AND e2.url = m.url
    """


def _gopher_rules_oracle_sql() -> str:
    """DuckDB replay of textstats.gopher_rules(min_tokens=20,
    stopwords=STOPWORDS['en']): all rule algebra on unrounded values; the
    stopword list embedded from the module (single source of truth)."""
    from pysparkdedup.textstats import STOPWORDS

    stops = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return rf"""
        WITH t AS (
            SELECT doc_id, coalesce(text, '') AS tx,
                   list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                               '\s+'), x -> x != '') AS ts,
                   regexp_split_to_array(coalesce(text, ''), '\n') AS ls
            FROM documents
        ), m AS (
            SELECT doc_id,
                   len(ts) AS n,
                   greatest(len(ts), 1)::DOUBLE AS sn,
                   coalesce(list_aggregate(
                       list_transform(ts, x -> length(x)), 'sum'), 0) AS sumlen,
                   len(regexp_extract_all(tx, '#'))
                     + len(regexp_extract_all(tx, '\.\.\.'))
                     + len(regexp_extract_all(tx, '…')) AS sym,
                   greatest(len(ls), 1)::DOUBLE AS nl,
                   len(list_filter(ls,
                       l -> regexp_matches(l, '^\s*[-*•‣]'))) AS nbul,
                   len(list_filter(ls,
                       l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) AS nell,
                   len(list_filter(ts,
                       x -> regexp_matches(x, '[a-z]'))) AS nalpha,
                   len(list_intersect(list_distinct(ts), [{stops}])) AS nstop
            FROM t
        )
        SELECT doc_id, n::INT AS n_tokens,
               round(sumlen / sn, 4) AS mean_word_len,
               (n >= 20 AND n <= 100000) AS ok_token_count,
               (sumlen / sn >= 3.0 AND sumlen / sn <= 10.0)
                   AS ok_mean_word_len,
               (sym / sn <= 0.1) AS ok_symbol_ratio,
               (nbul / nl <= 0.9) AS ok_bullets,
               (nell / nl <= 0.3) AS ok_ellipsis,
               (nalpha / sn >= 0.8) AS ok_alpha_words,
               (nstop >= 1) AS ok_stopwords,
               ((n >= 20 AND n <= 100000)
                AND (sumlen / sn >= 3.0 AND sumlen / sn <= 10.0)
                AND (sym / sn <= 0.1) AND (nbul / nl <= 0.9)
                AND (nell / nl <= 0.3) AND (nalpha / sn >= 0.8)
                AND (nstop >= 1)) AS gopher_pass
        FROM m
    """


def _pii_aug_sql() -> str:
    """DuckDB replay of _with_synth_pii's planted-PII string, byte-exact."""
    return (
        "coalesce(text, '') || ' contact user' || CAST(doc_id AS VARCHAR)"
        " || '@example.org'"
        " || CASE WHEN doc_id % 3 = 0 THEN ' ip 10.'"
        " || CAST(doc_id % 200 AS VARCHAR) || '.'"
        " || CAST((doc_id * 3) % 200 AS VARCHAR) || '.'"
        " || CAST(doc_id % 250 AS VARCHAR) ELSE '' END"
        " || CASE WHEN doc_id % 5 = 0 THEN ' tel +1 415 555'"
        " || CAST(doc_id % 10000 AS VARCHAR) ELSE '' END"
        " || CASE WHEN doc_id % 7 = 0 THEN ' card: 4242 4242 4242 4242'"
        " ELSE '' END"
    )


def _pii_count_sql() -> str:
    """Per-kind PII counts replaying with_pii_counts' PROGRESSIVE counting:
    kind k is counted on the text with kinds before k already replaced by
    their placeholders (counts == placeholders redact_pii emits). Expects a
    CTE exposing (doc_id, t); emits one 'c' CTE with n_<kind> columns."""
    from pysparkdedup.pii import PII_PATTERNS

    cur = "t"
    counts = []
    for kind, pat in PII_PATTERNS.items():
        counts.append(f"len(regexp_extract_all({cur}, '{pat}')) AS n_{kind}")
        cur = f"regexp_replace({cur}, '{pat}', '<{kind.upper()}>', 'g')"
    joined = ",\n                   ".join(counts)
    return f"SELECT doc_id,\n                   {joined}\n              FROM aug"


def _pii_redact_oracle_sql() -> str:
    """Counts via progressive regexp_extract_all (see _pii_count_sql),
    redaction via nested regexp_replace in PII_PATTERNS order (the order
    pii.redact_pii applies). Valid because the patterns stay inside the
    Java/RE2-shared subset (test_pii gate)."""
    from pysparkdedup.pii import PII_PATTERNS

    red = "t"
    for kind, pat in PII_PATTERNS.items():
        red = f"regexp_replace({red}, '{pat}', '<{kind.upper()}>', 'g')"
    total = " + ".join(f"n_{k}" for k in PII_PATTERNS)
    return f"""
        WITH aug AS (SELECT doc_id, {_pii_aug_sql()} AS t FROM documents),
        c AS ({_pii_count_sql()}),
        r AS (SELECT doc_id, {red} AS text_redacted FROM aug)
        SELECT c.doc_id, n_email::INT AS n_email, n_ipv4::INT AS n_ipv4,
               n_phone::INT AS n_phone, n_card::INT AS n_card,
               ({total})::INT AS n_pii, r.text_redacted
        FROM c JOIN r ON r.doc_id = c.doc_id
    """


def _pii_summary_oracle_sql() -> str:
    from pysparkdedup.pii import PII_PATTERNS

    total = " + ".join(f"n_{k}" for k in PII_PATTERNS)
    totals = ", ".join(
        f"sum(n_{k})::BIGINT AS total_{k}" for k in PII_PATTERNS)
    return f"""
        WITH aug AS (SELECT doc_id, {_pii_aug_sql()} AS t FROM documents),
        c AS ({_pii_count_sql()})
        SELECT count(*)::BIGINT AS n_docs,
               sum(CASE WHEN {total} > 0 THEN 1 ELSE 0 END)::BIGINT
                   AS docs_with_pii,
               {totals}
        FROM c
    """


def _curation_ctes(id_expr: str = "doc_id") -> tuple[str, str]:
    """The curate_pages replay as a reusable CTE chain (see
    _curation_pass_oracle_sql for stage-by-stage commentary). Returns
    ``(ctes, red)``: the chain ends with ``reb(doc_id, t1)`` (rebuilt
    pre-redaction text) and ``red`` is the nested regexp_replace
    expression producing the final curated text from ``t1`` — split out
    so the pipeline composite can feed the SAME curated text into the
    tiered-dedup CTEs.

    ``id_expr`` is the doc-id projection from ``documents``. The TYPE
    matters, not just the value: keep-first paragraph dedup breaks ties
    by doc_id ORDER, and the pipeline composite runs curation over
    STRING ids (tiered_dedup's url domain), where '10' < '2' — so that
    caller passes ``doc_id::VARCHAR`` to pin the same ordering the
    engine sees, while the standalone curation oracle keeps the int."""
    from pysparkdedup.pii import PII_PATTERNS

    red = "t1"
    for kind, pat in PII_PATTERNS.items():
        red = f"regexp_replace({red}, '{pat}', '<{kind.upper()}>', 'g')"
    ctes = rf"""
        aug AS (SELECT {id_expr} AS doc_id, {_pii_aug_sql()} AS t
                FROM documents),
        toks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(t), '\s+'),
                               x -> x != '') AS ts
            FROM aug
        ), grams AS (
            SELECT doc_id, ts[i] || ' ' || ts[i+1] AS gram
            FROM (SELECT doc_id, ts,
                         unnest(generate_series(1, greatest(len(ts) - 1, 0))) AS i
                  FROM toks)
        ), per_gram AS (
            SELECT doc_id, gram, count(*) AS cnt, length(gram) AS glen
            FROM grams GROUP BY doc_id, gram
        ), rep AS (
            SELECT doc_id,
                   sum(cnt * glen) AS total_chars,
                   sum(CASE WHEN cnt >= 2 THEN cnt * glen ELSE 0 END) AS dup_chars
            FROM per_gram GROUP BY doc_id
        ), bad AS (
            SELECT doc_id FROM rep
            WHERE round(dup_chars / greatest(total_chars, 1)::DOUBLE, 4) > 0.15
        ), surv AS (
            SELECT a.doc_id, a.t FROM aug a
            LEFT JOIN bad b ON b.doc_id = a.doc_id WHERE b.doc_id IS NULL
        ), stoks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(t), '\s+'),
                               x -> x != '') AS ts
            FROM surv
        ), chunks AS (
            SELECT doc_id, c AS pos,
                   array_to_string(ts[(c*10+1):(c*10+10)], ' ') AS line
            FROM (SELECT doc_id, ts,
                         unnest(generate_series(0,
                             cast(ceil(len(ts) / 10.0) AS INT) - 1)) AS c
                  FROM stoks)
        ), boiler AS (
            SELECT line FROM chunks
            GROUP BY line HAVING count(DISTINCT doc_id) >= 5
        ), keptb AS (
            SELECT c.* FROM chunks c
            LEFT JOIN boiler b ON b.line = c.line WHERE b.line IS NULL
        ), ranked AS (
            SELECT doc_id, pos, line,
                   row_number() OVER (PARTITION BY line
                                      ORDER BY doc_id, pos) AS rn
            FROM keptb
        ), kept AS (
            SELECT doc_id, pos, line FROM ranked WHERE rn = 1
        ), agg AS (
            SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS t1
            FROM kept GROUP BY doc_id
        ), reb AS (
            SELECT s.doc_id, coalesce(a.t1, '') AS t1
            FROM surv s LEFT JOIN agg a ON a.doc_id = s.doc_id
        )"""
    return ctes, red


def _curation_pass_oracle_sql() -> str:
    """Replays the full curate_pages composition as nested CTEs, each stage
    the same SQL fragment its per-stage oracle uses: planted-PII text ->
    repetition filter (rounded dup_gram_frac > 0.15, matching
    repetition_stats' rounded output) -> 10-token chunk lines -> boilerplate
    df >= 5 over the SURVIVORS -> keep-first dedup (row_number over
    (doc_id, pos); equivalent to the engine's min-(id, pos-within-kept)
    winner because the boilerplate filter preserves per-doc line order) ->
    rebuild -> nested regexp_replace redaction in PII_PATTERNS order."""
    ctes, red = _curation_ctes()
    return f"""
        WITH {ctes}
        SELECT doc_id, {red} AS curated_text FROM reb
    """


def _pipeline_pass_oracle_sql() -> str:
    """DuckDB replay of trainpipe.curate_and_dedup — the curation CTE chain
    (_curation_ctes: the exact fragments curation_pass_docs oracles) piped
    into the tiered-dedup CTE chain (_tiered_oracle_sql: the exact
    fragments tiered_dedup_docs oracles) via a ``curated(doc_id, text)``
    relation, so the cascade's exact tier hashes the CURATED bytes, the
    minhash tier tokenizes them, and the semantic tier's survivor filter
    restricts embeddings to curation survivors. No CTE-name collisions:
    the curation chain and the tiered chain use disjoint names (asserted
    in test_entry_contract)."""
    ctes, red = _curation_ctes(id_expr="doc_id::VARCHAR")
    pre = f"""{ctes}, curated AS MATERIALIZED (
            SELECT doc_id, {red} AS text FROM reb
        ),"""
    return _tiered_oracle_sql(pre=pre, src="curated")


def oracle_sql() -> dict[str, str]:
    from pysparkdedup.textstats import STOPWORDS

    norm_hash = r"sha256(regexp_replace(text, '\s', '', 'g'))"
    toks = r"list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\s+'), t -> t != '')"
    # argmax by (score DESC, candidate-lang DESC) — replays Spark's
    # array_max over struct(score, lang) exactly (lexicographic struct max).
    lang_scores_sql = "\nUNION ALL\n".join(
        f"""SELECT doc_id, lang, '{lang}' AS cand,
                   len(list_intersect(toks,
                       [{', '.join("'" + w + "'" for w in words)}]))::DOUBLE
                   / greatest(len(toks), 1) AS score
            FROM tok"""
        for lang, words in STOPWORDS.items()
    )
    return {
        "exact_dup_groups": f"""
            SELECT {norm_hash} AS content_hash,
                   count(*) AS n_docs,
                   min(doc_id) AS min_doc_id
            FROM documents GROUP BY 1
        """,
        "dup_group_spread": f"""
            SELECT {norm_hash} AS content_hash,
                   count(*) AS n_docs,
                   min(n_chars) AS min_chars,
                   max(n_chars) AS max_chars,
                   (max(n_chars) - min(n_chars)) <= 512 AS within_size_threshold
            FROM documents GROUP BY 1
        """,
        "hash_group_stats": f"""
            WITH ann AS (
                SELECT *, (text IS NULL OR length(trim(text)) < 1) AS rej,
                       {norm_hash} AS h
                FROM documents
            ), g AS (
                SELECT h, count(*) AS n FROM ann WHERE NOT rej GROUP BY h
            )
            SELECT (SELECT count(*) FROM ann) AS found,
                   (SELECT coalesce(sum(rej::int), 0)::BIGINT FROM ann) AS rejected,
                   (SELECT coalesce(sum((NOT rej)::int), 0)::BIGINT FROM ann) AS retained,
                   (SELECT count(*) FROM g) AS hashes,
                   (SELECT coalesce(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END), 0)::BIGINT FROM g) AS unique_docs,
                   (SELECT coalesce(sum(CASE WHEN n > 1 THEN n ELSE 0 END), 0)::BIGINT FROM g) AS duplicates
        """,
        "select_newest_per_user": """
            SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
            FROM (SELECT *, max(ts) OVER (PARTITION BY user_id) AS mx FROM events)
            WHERE ts = mx
        """,
        "select_oldest_per_user": """
            SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
            FROM (SELECT *, min(ts) OVER (PARTITION BY user_id) AS mn FROM events)
            WHERE ts = mn
        """,
        "select_one_per_user": """
            SELECT event_id, user_id
            FROM (SELECT event_id, user_id,
                         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
                  FROM events)
            WHERE rn = 1
        """,
        "select_biggest_per_user": """
            SELECT event_id, user_id
            FROM (SELECT *, max(value) OVER (PARTITION BY user_id) AS mx FROM events)
            WHERE value = mx
        """,
        "cascade_newest_then_one": """
            WITH base AS (
                SELECT event_id, user_id,
                       count(*) OVER p AS n,
                       count(ts) OVER p AS nd,
                       coalesce(ts = max(ts) OVER p, false) AS is_newest,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY event_id::VARCHAR) AS rn
                FROM events
                WINDOW p AS (PARTITION BY user_id)
            ), eff AS (
                SELECT *,
                       sum(CASE WHEN is_newest AND nd = n THEN 1 ELSE 0 END)
                           OVER (PARTITION BY user_id) AS sel_newest
                FROM base
            )
            SELECT event_id,
                   CASE WHEN n = 1 THEN true
                        WHEN nd = n AND sel_newest > 0 AND sel_newest < n
                             THEN is_newest
                        ELSE rn = 1 END AS selected,
                   CASE WHEN n = 1 THEN 'single'
                        WHEN nd = n AND sel_newest > 0 AND sel_newest < n
                             THEN 'select-newest'
                        ELSE 'select-one' END AS applied_strategy
            FROM eff
        """,
        "reject_filter_by_lang": """
            SELECT lang, count(*) AS found,
                   coalesce(sum((text IS NULL OR length(trim(text)) < 1)::int), 0)::BIGINT AS rejected
            FROM documents GROUP BY lang
        """,
        "regexp_select": """
            SELECT doc_id, source FROM documents
            WHERE regexp_matches(source, '^src1[0-9]$')
        """,
        "token_stats": f"""
            SELECT doc_id,
                   len({toks}) AS n_tokens,
                   length(coalesce(text, '')) AS n_chars_exact,
                   coalesce(list_sum(list_transform(
                       regexp_extract_all(coalesce(text, ''),
                                          '\\p{{L}}+|\\p{{N}}+'),
                       p -> greatest(ceil(length(p)::DOUBLE / 4)::BIGINT, 1))),
                       0)::BIGINT AS n_subwords
            FROM documents
        """,
        "quality_stats": f"""
            SELECT doc_id,
                   len({toks}) AS n_tokens,
                   round(length(regexp_replace(coalesce(text,''), '[\\p{{L}}\\p{{N}}\\s]', '', 'g'))
                         / greatest(length(coalesce(text,'')), 1)::DOUBLE, 4) AS punct_ratio,
                   round(length(regexp_replace(coalesce(text,''), '[^0-9]', '', 'g'))
                         / greatest(length(coalesce(text,'')), 1)::DOUBLE, 4) AS digit_ratio
            FROM documents
        """,
        "ngram_jaccard_pairs": r"""
            WITH toks AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                                   '[^\p{L}\p{N}_]+'), t -> t != '') AS ts
                FROM documents
            ), sh AS (
                SELECT DISTINCT doc_id, array_to_string(ts[i:i+4], ' ') AS s
                FROM (SELECT doc_id, ts,
                             unnest(generate_series(1, greatest(len(ts) - 4, 0))) AS i
                      FROM toks)
            ), sized AS (
                SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id
            ), kept AS (
                -- the production df-cut (max_df=100): shingles shared by
                -- more docs are dropped from the JOIN KEYS only; set sizes
                -- (nsh) still count every distinct shingle
                SELECT sh.* FROM sh
                JOIN (SELECT s FROM sh GROUP BY s HAVING count(*) <= 100) f
                  ON f.s = sh.s
            ), inter AS (
                SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS n_common
                FROM kept l JOIN kept r ON l.s = r.s AND l.doc_id < r.doc_id
                GROUP BY 1, 2
            )
            SELECT a, b, n_common, sa.nsh AS na, sb.nsh AS nb
            FROM inter
            JOIN sized sa ON sa.doc_id = a
            JOIN sized sb ON sb.doc_id = b
            WHERE n_common / (sa.nsh + sb.nsh - n_common)::DOUBLE >= 0.5
        """,
        "pointer_dedup_exact": f"""
            SELECT doc_id,
                   min(doc_id) OVER (PARTITION BY {norm_hash}) AS kept_doc_id,
                   doc_id = min(doc_id) OVER (PARTITION BY {norm_hash}) AS is_canonical
            FROM documents
        """,
        "group_extremes_lineitem": """
            SELECT l_orderkey,
                   count(*) AS n_lines,
                   round(min(l_extendedprice), 2) AS min_price,
                   round(max(l_extendedprice), 2) AS max_price,
                   sum(l_quantity)::BIGINT AS sum_qty
            FROM lineitem GROUP BY l_orderkey
        """,
        "normalize_text_docs": r"""
            SELECT doc_id,
                   regexp_replace(
                       'Re: Fwd: [list] ' ||
                       substring(split_part(coalesce(text, ''), chr(10), 1), 1, 60),
                       '(?i)^(?:(?:re|fwd?): +|\[\w[\w_-]*\w?\] +)+', '')
                   AS norm_subject,
                   sha256(trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g')))
                   AS collapsed_hash,
                   lower(trim(regexp_replace(
                       'Text/' || coalesce(lang, 'plain')
                       || '; charset=UTF-8; boundary=' || source,
                       ';.*', ''))) AS mime,
                   regexp_replace(
                       trim(regexp_replace(
                           replace('"User  ' || source || '" ' || chr(9)
                                   || '<' || source || '@example.com>',
                                   '"', ''),
                           '\s+', ' ', 'g')),
                       '[<>]', '', 'g') AS addr
            FROM documents
        """,
        "select_older_newer_per_user": """
            SELECT event_id, user_id,
                   strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
                   ts < max(ts) OVER (PARTITION BY user_id) AS is_older,
                   ts > min(ts) OVER (PARTITION BY user_id) AS is_newer
            FROM events
        """,
        "select_smaller_per_user": """
            SELECT event_id, user_id
            FROM (SELECT *, max(value) OVER (PARTITION BY user_id) AS mx FROM events)
            WHERE value < mx
        """,
        "select_smallest_per_user": """
            SELECT event_id, user_id
            FROM (SELECT *, min(value) OVER (PARTITION BY user_id) AS mn FROM events)
            WHERE value = mn
        """,
        "select_bigger_per_user": """
            SELECT event_id, user_id
            FROM (SELECT *, min(value) OVER (PARTITION BY user_id) AS mn FROM events)
            WHERE value > mn
        """,
        "select_all_but_one_per_user": """
            SELECT event_id, user_id
            FROM (SELECT event_id, user_id,
                         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
                  FROM events)
            WHERE rn > 1
        """,
        "select_paths": """
            SELECT doc_id, source,
                   regexp_matches(source, '^src1[0-9]$') AS sel_matching,
                   NOT regexp_matches(source, '^src1[0-9]$') AS sel_non_matching
            FROM documents
        """,
        "normalize_keys_docs": r"""
            WITH raw AS (
                SELECT doc_id,
                       'HTTP://Example.COM:80/' || source || '/page/' || doc_id
                       || '?utm_source=x&id=' || doc_id
                       || '&utm_campaign=y#frag' AS u
                FROM documents
            ), nofrag AS (
                SELECT doc_id, regexp_replace(u, '#.*$', '') AS u FROM raw
            ), lowered AS (
                SELECT doc_id,
                       lower(regexp_extract(u,
                           '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1))
                       || regexp_replace(u,
                           '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', '') AS u
                FROM nofrag
            ), noport AS (
                SELECT doc_id,
                       regexp_replace(
                           regexp_replace(u, '^(http://[^/?#:]*):80([/?]|$)',
                                          '\1\2'),
                           '^(https://[^/?#:]*):443([/?]|$)', '\1\2') AS u
                FROM lowered
            ), notrack AS (
                SELECT doc_id,
                       regexp_replace(u,
                           '([?&])(utm_[a-z]+|fbclid|gclid)=[^&#]*',
                           '\1', 'g') AS u
                FROM noport
            ), tidy AS (
                SELECT doc_id,
                       regexp_replace(regexp_replace(u, '&&+', '&', 'g'),
                                      '\?&', '?') AS u
                FROM notrack
            )
            SELECT t.doc_id,
                   CASE WHEN regexp_extract('<' || d.source || '>',
                                            '^<([^<>,]+)>$', 1) != ''
                        THEN regexp_extract('<' || d.source || '>',
                                            '^<([^<>,]+)>$', 1)
                        ELSE '<' || d.source || '>' END AS stripped,
                   regexp_replace(regexp_replace(t.u, '[?&]$', ''), '/$', '')
                   AS canon_url,
                   strftime(TIMESTAMP '2020-01-01 00:00:00'
                            + to_minutes(CAST(t.doc_id % 90000 AS BIGINT)),
                            '%Y-%m-%d') AS day
            FROM tidy t JOIN documents d ON d.doc_id = t.doc_id
        """,
        "lang_id_docs": rf"""
            WITH tok AS (
                SELECT doc_id, lang,
                       list_filter(regexp_split_to_array(
                           lower(coalesce(text, '')), '\s+'), t -> t != '') AS toks
                FROM documents
            ), s AS (
                {lang_scores_sql}
            ), best AS (
                SELECT doc_id, lang, cand, score,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY score DESC, cand DESC) AS rn
                FROM s
            )
            SELECT doc_id,
                   CASE WHEN score > 0 THEN cand ELSE 'und' END AS lang_pred,
                   lang
            FROM best WHERE rn = 1
        """,
        "containment_pairs_docs": r"""
            WITH t AS (
                SELECT doc_id::VARCHAR AS id,
                       ' ' || array_to_string(
                           list_filter(regexp_split_to_array(
                               lower(coalesce(text, '')), '[^0-9a-z_]+'),
                               x -> x != ''), ' ') || ' ' AS ts,
                       len(list_filter(regexp_split_to_array(
                           lower(coalesce(text, '')), '[^0-9a-z_]+'),
                           x -> x != '')) AS n
                FROM documents
            )
            SELECT DISTINCT a.id AS inner, b.id AS outer
            FROM t a JOIN t b ON a.id != b.id AND contains(b.ts, a.ts)
            WHERE a.n >= 5
        """,
        "checkpoint_resume_docs": r"""
            SELECT doc_id::VARCHAR AS url,
                   sha256(regexp_replace(text, '\s', '', 'g')) AS content_hash
            FROM documents
        """,
        "guards_eviction_size_only": _guards_eviction_size_only_oracle_sql(),
        "repetition_stats_docs": _repetition_profile_oracle_sql((2, 3, 4)),
        "boilerplate_lines_docs": r"""
            WITH toks AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                                   '\s+'), t -> t != '') AS ts
                FROM documents
            ), chunks AS (
                SELECT doc_id, c AS pos,
                       array_to_string(ts[(c*10+1):(c*10+10)], ' ') AS line
                FROM (SELECT doc_id, ts,
                             unnest(generate_series(0,
                                 cast(ceil(len(ts) / 10.0) AS INT) - 1)) AS c
                      FROM toks)
            ), boiler AS (
                SELECT line FROM chunks
                GROUP BY line HAVING count(DISTINCT doc_id) >= 5
            ), kept AS (
                SELECT c.* FROM chunks c
                LEFT JOIN boiler b ON b.line = c.line WHERE b.line IS NULL
            ), agg AS (
                SELECT doc_id, count(*) AS n_kept,
                       string_agg(line, chr(10) ORDER BY pos) AS clean_text
                FROM kept GROUP BY doc_id
            ), nl AS (
                SELECT doc_id, count(*) AS n_lines FROM chunks GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(nl.n_lines, 0)::BIGINT AS n_lines,
                   (coalesce(nl.n_lines, 0) - coalesce(a.n_kept, 0))::BIGINT
                       AS n_dropped,
                   coalesce(a.clean_text, '') AS clean_text
            FROM documents d
            LEFT JOIN nl ON nl.doc_id = d.doc_id
            LEFT JOIN agg a ON a.doc_id = d.doc_id
        """,
        "vocab_topk_docs": r"""
            WITH toks AS (
                SELECT list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                                   '\s+'), t -> t != '') AS ts
                FROM documents
            ), tok AS (
                SELECT unnest(ts) AS token FROM toks
            ), c AS (
                SELECT token, count(*) AS n FROM tok GROUP BY token
            )
            SELECT token, n::BIGINT AS n,
                   row_number() OVER (ORDER BY n DESC, token ASC)::INT AS rank
            FROM c ORDER BY n DESC, token ASC LIMIT 200
        """,
        "paragraph_dedup_docs": r"""
            WITH toks AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                                   '\s+'), t -> t != '') AS ts
                FROM documents
            ), chunks AS (
                SELECT doc_id, c AS pos,
                       array_to_string(ts[(c*10+1):(c*10+10)], ' ') AS line
                FROM (SELECT doc_id, ts,
                             unnest(generate_series(0,
                                 cast(ceil(len(ts) / 10.0) AS INT) - 1)) AS c
                      FROM toks)
            ), ranked AS (
                SELECT doc_id, pos, line,
                       row_number() OVER (PARTITION BY line
                                          ORDER BY doc_id, pos) AS rn
                FROM chunks
            ), kept AS (
                SELECT doc_id, pos, line FROM ranked WHERE rn = 1
            ), agg AS (
                SELECT doc_id, count(*) AS n_kept,
                       string_agg(line, chr(10) ORDER BY pos) AS clean_text
                FROM kept GROUP BY doc_id
            ), nl AS (
                SELECT doc_id, count(*) AS n_lines FROM chunks GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(nl.n_lines, 0)::BIGINT AS n_lines,
                   (coalesce(nl.n_lines, 0) - coalesce(a.n_kept, 0))::BIGINT
                       AS n_dropped,
                   coalesce(a.clean_text, '') AS clean_text
            FROM documents d
            LEFT JOIN nl ON nl.doc_id = d.doc_id
            LEFT JOIN agg a ON a.doc_id = d.doc_id
        """,
        "decontam_overlap_docs": r"""
            WITH toks AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                                   '[^\p{L}\p{N}_]+'), t -> t != '') AS ts
                FROM documents
            ), sh AS (
                SELECT DISTINCT doc_id, array_to_string(ts[i:i+4], ' ') AS s
                FROM (SELECT doc_id, ts,
                             unnest(generate_series(1, greatest(len(ts) - 4, 0))) AS i
                      FROM toks)
            ), bench AS (
                SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0
            ), nsh AS (
                SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id
            ), ov AS (
                SELECT sh.doc_id, count(*) AS n_overlap
                FROM sh JOIN bench b ON b.s = sh.s GROUP BY sh.doc_id
            )
            SELECT d.doc_id,
                   coalesce(n.n_shingles, 0)::BIGINT AS n_shingles,
                   coalesce(o.n_overlap, 0)::BIGINT AS n_overlap,
                   round(coalesce(o.n_overlap, 0)
                         / greatest(coalesce(n.n_shingles, 0), 1)::DOUBLE, 4)
                       AS overlap_frac,
                   coalesce(o.n_overlap, 0) >= 1 AS contaminated
            FROM documents d
            LEFT JOIN nsh n ON n.doc_id = d.doc_id
            LEFT JOIN ov o ON o.doc_id = d.doc_id
        """,
        "cross_corpus_dedup_docs": _cross_corpus_oracle_sql(),
        "pii_redact_docs": _pii_redact_oracle_sql(),
        "pii_summary_docs": _pii_summary_oracle_sql(),
        "curation_pass_docs": _curation_pass_oracle_sql(),
        "tiered_dedup_docs": _tiered_oracle_sql(),
        "pipeline_pass_docs": _pipeline_pass_oracle_sql(),
        "gopher_rules_docs": _gopher_rules_oracle_sql(),
        "simhash_sigs_docs": _simhash_oracle_sql(),
        "minhash_sigs_docs": _minhash_oracle_sql(),
        "minhash_clusters_docs": _minhash_clusters_oracle_sql(),
        "image_dup_docs": _image_dup_oracle_sql(),
        "embedding_lsh_buckets": _emb_buckets_oracle_sql(),
        "embedding_ivf_topk": _emb_ivf_topk_oracle_sql(),
        "embedding_ann_top1": _emb_ann_top1_oracle_sql(),
        "embedding_dup_clusters": _emb_dup_clusters_oracle_sql(),
        "winnow_fingerprints_docs": r"""
            WITH codes AS (
                SELECT doc_id::VARCHAR AS url,
                       list_transform(
                           regexp_extract_all(lower(coalesce(text, '')), '(?s).'),
                           c -> unicode(c)::HUGEINT) AS cs
                FROM documents
            ), hashes AS (
                -- rolling k=8 polynomial hash, base 1000003, mod 2^64
                SELECT url,
                       [ ((((((((((((((cs[i]*1000003 + cs[i+1])
                           % 18446744073709551616)*1000003 + cs[i+2])
                           % 18446744073709551616)*1000003 + cs[i+3])
                           % 18446744073709551616)*1000003 + cs[i+4])
                           % 18446744073709551616)*1000003 + cs[i+5])
                           % 18446744073709551616)*1000003 + cs[i+6])
                           % 18446744073709551616)*1000003 + cs[i+7])
                           % 18446744073709551616)
                         for i in generate_series(1, len(cs) - 7) ] AS hs
                FROM codes
                WHERE len(cs) >= 8
            ), mins AS (
                -- window-4 sliding minima (kernel falls back to global min
                -- when fewer than 4 hashes exist), deduplicated
                SELECT url,
                       list_distinct([ list_aggregate(hs[j : j+3], 'min')
                                       for j in generate_series(1, greatest(len(hs)-3, 1)) ]) AS fps
                FROM hashes
            )
            SELECT url,
                   CASE WHEN fp >= 9223372036854775808
                        THEN fp - 18446744073709551616
                        ELSE fp END::BIGINT AS fp
            FROM (SELECT url, unnest(fps) AS fp FROM mins)
        """,
        "embedding_top1_exact": """
            WITH q AS (
                SELECT vec_id AS query_id, embedding AS qe FROM embeddings
                WHERE vec_id < 20
            ), scored AS (
                SELECT q.query_id, e.vec_id,
                       list_dot_product(q.qe::DOUBLE[], e.embedding::DOUBLE[])
                       / (sqrt(list_dot_product(q.qe::DOUBLE[], q.qe::DOUBLE[]))
                          * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])))
                       AS cosine
                FROM q, embeddings e
                WHERE e.vec_id != q.query_id
            )
            SELECT query_id, vec_id AS neighbor_id, round(cosine, 4) AS cosine_r
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                             ORDER BY cosine DESC, vec_id ASC) AS rn
                  FROM scored)
            WHERE rn = 1
        """,
    }
