"""Repetition / boilerplate operators for training-data curation.

Two public-literature families the reference's per-mailbox model has no
analog for, but a web-scale corpus pipeline needs alongside dedup:

- ``repetition_stats`` — per-document repetition signals in the style of
  Gopher's repetition filters (Rae et al. 2021, "Scaling Language Models",
  appendix A1.1): fraction of characters in the most frequent n-gram and
  fraction of character mass in n-grams occurring more than once. Documents
  dominated by repeated n-grams are low-quality boilerplate/spam.

- ``drop_boilerplate_lines`` — corpus-level line deduplication in the style
  of CCNet (Wenzek et al. 2020): a line occurring in many documents
  (navigation chrome, cookie banners, footers) is boilerplate; drop it from
  every document while preserving the order of what remains.

Scale notes (100 TB):
- ``repetition_stats`` / ``repetition_profile`` are SHUFFLE-FREE
  (plan-gated: zero Exchange nodes): per-document signals computed by an
  Arrow-batched numpy kernel inside ``mapInPandas`` — embarrassingly
  parallel, a mega-document costs only its own gram count within its
  task, and the whole batch is one factorize + one lexsort per n (no
  per-row Python). The line ops are pure JVM column algebra.
- ``drop_boilerplate_lines`` dehydrates: only the (id, line) projection
  rides the document-frequency aggregation (distinct-then-count; partial
  agg absorbs hot boilerplate lines because count is O(1) state); the
  rebuild filters each document's OWN lines array against broadcast-joined
  per-doc hits, so the corpus text never shuffles.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def tokens_expr(text_col: str = "text") -> Column:
    """Lowercased whitespace tokens (same tokenizer family as textstats)."""
    return F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
        lambda t: t != "",
    )


def with_chunk_lines(
    df: DataFrame,
    tokens_per_line: int = 10,
    text_col: str = "text",
    out_col: str = "lines",
) -> DataFrame:
    """``df`` plus an ``out_col`` array of deterministic pseudo-lines.

    Materializes the token array into a column FIRST: passing the raw
    split() expression into the chunk lambda would re-evaluate tokenization
    once per chunk slice (no CSE inside lambda bodies) — O(len^2) per doc.
    """
    return (
        df.withColumn("_toks", tokens_expr(text_col))
        .withColumn(out_col,
                    chunk_lines_expr(F.col("_toks"), tokens_per_line))
        .drop("_toks")
    )


def chunk_lines_expr(tokens: Column, tokens_per_line: int) -> Column:
    """Deterministic pseudo-lines: consecutive ``tokens_per_line``-token
    chunks, space-joined. Gives newline-free corpora (like the synthetic
    documents table) a well-defined line unit; real web text uses
    ``split(text, '\\n')`` instead.

    ``tokens`` should be a MATERIALIZED column (see with_chunk_lines), not a
    raw split() expression — lambdas re-evaluate their captured expressions
    per element."""
    w = tokens_per_line
    n_chunks = F.ceil(F.size(tokens) / F.lit(w)).cast("int")
    return F.when(
        n_chunks > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - F.lit(1)),
            lambda i: F.concat_ws(" ", F.slice(tokens, i * w + 1, w)),
        ),
    ).otherwise(F.array().cast("array<string>"))


# Java's default \s (no UNICODE_CHARACTER_CLASS): [ \t\n\x0B\f\r] — the
# kernel must tokenize byte-identically to tokens_expr's F.split(..., \s+).
_WS_RE = re.compile(r"[ \t\n\x0B\f\r]+")
_Q4 = Decimal("0.0001")
_GLEN_BITS = np.uint64(34)          # (count << 34) | gram_char_len packing
_GLEN_MASK = np.uint64((1 << 34) - 1)

REP_COLS = ("n_grams", "distinct_grams", "top_gram_frac", "dup_gram_frac")


def _round4_half_up(x: float) -> float:
    """Spark's ``F.round(double, 4)``: BigDecimal.valueOf(x) — the SHORTEST
    round-trip decimal string, which Python's repr() also produces — scaled
    with HALF_UP. numpy's half-to-even (and plain float tricks like
    floor(x*1e4+0.5), which misreads near-tie doubles) would drift on
    .xxxx5 boundaries, and the DuckDB oracle replays exact rounded values,
    so the JVM semantics are pinned explicitly here.

    ``float(x)`` first: numpy 2.x scalars repr as ``np.float64(0.5)``,
    which Decimal rejects; float() keeps the shortest-round-trip repr."""
    return float(Decimal(repr(float(x))).quantize(_Q4, rounding=ROUND_HALF_UP))


def _profile_batch(pdf: pd.DataFrame, ns: tuple[int, ...],
                   id_col: str, text_col: str) -> pd.DataFrame:
    """One Arrow batch -> per-doc repetition stats for every n in ``ns``.

    Fully batch-vectorized: one tokenize + factorize over the whole batch
    (exact string identity — no hash collisions), then per n one
    sliding-window view, one lexsort by (doc, gram) and a run-length /
    reduceat pass. The only per-row Python is the final HALF_UP rounding
    of two ratios per (doc, n)."""
    toks: list[list[str]] = []
    for t in pdf[text_col]:
        if isinstance(t, str) and t:
            toks.append([w for w in _WS_RE.split(t.lower()) if w])
        else:
            toks.append([])
    ndocs = len(toks)
    doc_lens = np.fromiter((len(ts) for ts in toks), dtype=np.int64,
                           count=ndocs)
    flat = [w for ts in toks for w in ts]
    total = len(flat)
    if total:
        codes = pd.factorize(np.asarray(flat, dtype=object))[0].astype(
            np.int64)
        tlen = np.fromiter(map(len, flat), dtype=np.int64, count=total)
        doc_of = np.repeat(np.arange(ndocs, dtype=np.int64), doc_lens)
        cs = np.concatenate((np.zeros(1, np.int64), np.cumsum(tlen)))

    out: dict = {id_col: pdf[id_col]}
    for n in ns:
        ng = np.zeros(ndocs, np.int64)
        dg = np.zeros(ndocs, np.int64)
        top = np.zeros(ndocs, np.float64)
        dup = np.zeros(ndocs, np.float64)
        g_all = total - n + 1
        if total and g_all > 0:
            # window i is a real gram iff it does not cross a doc boundary
            valid = doc_of[:g_all] == doc_of[n - 1:]
            if valid.any():
                vdoc = doc_of[:g_all][valid]
                # space-joined gram char length = token chars + (n-1)
                glen = (cs[n:] - cs[:-n] + (n - 1))[valid]
                win = np.lib.stride_tricks.sliding_window_view(
                    codes, n)[valid]
                # lexsort: LAST key is primary -> (doc, gram[0..n-1])
                order = np.lexsort(
                    tuple(win[:, j] for j in range(n - 1, -1, -1))
                    + (vdoc,))
                sd = vdoc[order]
                sw = win[order]
                sg = glen[order]
                m = len(sd)
                newrun = np.ones(m, bool)
                newrun[1:] = sd[1:] != sd[:-1]
                newrun[1:] |= (sw[1:] != sw[:-1]).any(axis=1)
                rstart = np.flatnonzero(newrun)
                rcount = np.diff(np.append(rstart, m))
                rdoc = sd[rstart]
                rglen = sg[rstart]
                dstart = np.flatnonzero(
                    np.concatenate(([True], rdoc[1:] != rdoc[:-1])))
                present = rdoc[dstart]
                occ_chars = rcount * rglen
                tot_c = np.add.reduceat(occ_chars, dstart)
                dup_c = np.add.reduceat(
                    np.where(rcount >= 2, occ_chars, 0), dstart)
                ng[present] = np.add.reduceat(rcount, dstart)
                dg[present] = np.diff(np.append(dstart, len(rdoc)))
                # top gram per doc: max over (count, char_len) — the old
                # struct order's third key (gram text) provably never
                # changes the OUTPUT: equal (count, len) => equal
                # count*len product. Packed u64 so one maximum.reduceat
                # replaces a per-run comparison loop.
                pack = (
                    rcount.astype(np.uint64) << _GLEN_BITS
                ) | np.minimum(rglen, _GLEN_MASK.astype(np.int64)).astype(
                    np.uint64)
                best = np.maximum.reduceat(pack, dstart)
                # long multiply THEN cast to double: matches the JVM's
                # (bc: long) * (bl: long) / (safe: double)
                prod = ((best >> _GLEN_BITS)
                        * (best & _GLEN_MASK)).astype(np.float64)
                safe = np.maximum(tot_c, 1).astype(np.float64)
                top[present] = prod / safe
                dup[present] = dup_c.astype(np.float64) / safe
        out[f"n_grams_{n}"] = ng
        out[f"distinct_grams_{n}"] = dg
        out[f"top_gram_frac_{n}"] = np.fromiter(
            (_round4_half_up(x) for x in top), np.float64, ndocs)
        out[f"dup_gram_frac_{n}"] = np.fromiter(
            (_round4_half_up(x) for x in dup), np.float64, ndocs)
    return pd.DataFrame(out)


def repetition_profile(
    df: DataFrame,
    ns: tuple[int, ...] = (2, 3, 4),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document repetition signals for SEVERAL n at once — the full
    Gopher repetition-filter family (Rae et al. 2021 appendix A1.1
    thresholds dup-{2,3,4}-gram and top-{2,3,4}-gram char fractions).

    Returns one row per input row: ``id_col`` plus, for each n in ``ns``,
    ``n_grams_{n}`` / ``distinct_grams_{n}`` / ``top_gram_frac_{n}`` /
    ``dup_gram_frac_{n}`` (same definitions as repetition_stats; ratios
    HALF_UP-rounded to 4 decimals, 0.0 for gram-less docs).

    SHUFFLE-FREE: one ``mapInPandas`` pass — tokenization and the exact
    token->code factorization are shared across all n, so asking for
    (2, 3, 4) costs one tokenize plus three windowed sorts, not three
    full passes. Replaces the earlier per-doc JVM ``aggregate`` run-length
    scan: higher-order functions are CodegenFallback (interpreted, no
    subexpression reuse) and the gram sort + fold dominated the curation
    pass's per-doc cost; the Arrow-batched numpy kernel does the same
    work vectorized.

    Caller note: Spark has no DAG-level CSE — each downstream consumer
    re-executes the Python kernel. Materialize (persist the slim
    projection, as curate_pages does) before fanning out or filtering.
    """
    ns = tuple(ns)
    if not ns or len(set(ns)) != len(ns) or any(n < 1 for n in ns):
        raise ValueError(f"ns must be distinct ints >= 1, got {ns!r}")
    id_field = df.schema[id_col]
    fields = [T.StructField(id_col, id_field.dataType, id_field.nullable)]
    for n in ns:
        fields += [
            T.StructField(f"n_grams_{n}", T.LongType(), True),
            T.StructField(f"distinct_grams_{n}", T.LongType(), True),
            T.StructField(f"top_gram_frac_{n}", T.DoubleType(), True),
            T.StructField(f"dup_gram_frac_{n}", T.DoubleType(), True),
        ]

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _profile_batch(pdf, ns, id_col, text_col)

    return df.select(id_col, text_col).mapInPandas(
        compute, schema=T.StructType(fields))


def repetition_stats(
    df: DataFrame,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document n-gram repetition signals (Gopher-style).

    Returns one row per input row with:
    - ``n_grams``        : total n-gram occurrences in the document;
    - ``distinct_grams`` : distinct n-grams;
    - ``top_gram_frac``  : chars of the most frequent n-gram times its count,
      over total n-gram-occurrence chars (count ties broken by longer gram —
      fully deterministic; the gram-text tie-break of the historical struct
      order cannot affect the product);
    - ``dup_gram_frac``  : char mass of n-grams occurring >= 2 times, over
      total n-gram-occurrence chars.

    Ratios are HALF_UP-rounded to 4 decimals (JVM ``F.round`` semantics,
    pinned in the kernel); documents with no n-grams get 0.0. The
    single-n view of ``repetition_profile`` — see there for the execution
    model and the materialize-before-fan-out caller note.
    """
    prof = repetition_profile(df, ns=(n,), id_col=id_col, text_col=text_col)
    return prof.select(
        F.col(id_col),
        *[F.col(f"{c}_{n}").alias(c) for c in REP_COLS])


def line_doc_frequency(
    df: DataFrame,
    lines_col: str = "lines",
    id_col: str = "doc_id",
) -> DataFrame:
    """(line, df) — in how many distinct documents each line occurs.

    Exact: distinct (id, line) first (repeated lines inside one document
    count once), then count per line. Both shuffles carry count-only state.
    """
    exploded = df.select(
        F.col(id_col), F.explode(lines_col).alias("line"))
    return (
        exploded.distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("df"))
    )


def drop_boilerplate_lines(
    df: DataFrame,
    min_df: int,
    lines_col: str = "lines",
    id_col: str = "doc_id",
    keep_order: bool = True,
) -> DataFrame:
    """Remove every line occurring in >= ``min_df`` distinct documents
    (CCNet-style boilerplate filter).

    Input: a frame with an ``array<string>`` lines column (``split(text,
    '\\n')`` for real web text; ``chunk_lines_expr`` for newline-free
    corpora). Output: one row per document with
    - ``kept_lines`` : surviving lines, original order preserved;
    - ``clean_text`` : the surviving lines re-joined with ``'\\n'``;
    - ``n_lines`` / ``n_dropped`` : accounting.

    The document payload never shuffles (the engine's dehydration principle):
    only the light (id, pos, line) projection rides the document-frequency
    aggregation, and the rebuild drops by POSITION — the exploded frame
    already knows every occurrence's position, so collecting the hit
    positions (ints, bounded by the doc's own line count) replaces the
    former per-line ``array_contains`` scan over a per-doc STRING array —
    O(lines x distinct_bad_lines x strlen) per document for template-heavy
    docs — with an int-set membership test, the same form the fused curate
    path uses (curate.py position drops). The per-doc hit frame is bounded
    by (docs containing boilerplate) x (few ints each), which AQE
    broadcasts in the common regime; the fallback is a shuffle join keyed
    on id that still moves only hit positions, not the corpus.

    The boilerplate dim itself is deliberately NOT hint-broadcast: unlike
    the engine's capped hot-key dims (pairs/ngram/suffix), every distinct
    line with df >= min_df qualifies, which at web scale is an unbounded
    set (every footer variant in the crawl). AQE decides at runtime from
    the aggregated size — broadcast when it fits, shuffle join (count-only
    state, partial-agg absorbed) when it does not.

    Null entries in the lines array are KEPT in every document: a null
    line never matches the frequency dim (null joins nothing), so it
    cannot be boilerplate and the positional drop passes it through —
    consistent with documents that have no hits at all. (The pre-r7
    ``array_contains`` formulation dropped nulls from any document with a
    hit; the positional semantics are the deliberate fix, pinned by
    test_drop_boilerplate_null_lines_are_kept.)
    """
    del keep_order  # order is always preserved by the array filter
    from pyspark import StorageLevel

    from .cache import track

    # The light (id, pos, line) projection feeds BOTH the frequency count
    # and the per-doc hit positions; persist it so the caller's lines
    # expression (often a chunking transform) evaluates once, not per
    # consumer.
    light = track(
        df.select(F.col(id_col),
                  F.posexplode(lines_col).alias("pos", "line"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    boiler = (
        light.select(id_col, "line").distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
        .select("line")
    )

    bad_per_doc = (
        light.join(boiler, "line", "inner")
        .groupBy(id_col)
        .agg(F.collect_set("pos").alias("_badpos"))
    )

    joined = df.select(
        F.col(id_col),
        F.greatest(F.size(lines_col), F.lit(0)).alias("n_lines"),
        F.coalesce(
            F.col(lines_col), F.array().cast("array<string>")
        ).alias("_lines"),
    ).join(bad_per_doc, id_col, "left")

    kept = F.when(
        F.col("_badpos").isNull(), F.col("_lines")
    ).otherwise(
        F.filter(F.col("_lines"),
                 lambda _ln, i: ~F.array_contains(F.col("_badpos"), i)))
    return joined.select(
        id_col,
        "n_lines",
        kept.alias("kept_lines"),
    ).select(
        id_col,
        "n_lines",
        "kept_lines",
        F.concat_ws("\n", "kept_lines").alias("clean_text"),
        (F.col("n_lines") - F.size("kept_lines")).alias("n_dropped"),
    )


def dedup_lines_keep_first(
    df: DataFrame,
    lines_col: str = "lines",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide line/paragraph dedup, keep-FIRST semantics (the Dolma
    paragraph-dedup family: a paragraph seen before anywhere in the corpus
    is removed; its first occurrence survives). Distinct from
    ``drop_boilerplate_lines``, which removes EVERY copy of a frequent line.

    "First" is fully deterministic: the minimal (id, position) under
    lexicographic struct order — the same occurrence regardless of
    partitioning or parallelism. Output mirrors drop_boilerplate_lines:
    ``n_lines`` / ``n_dropped`` / ``kept_lines`` (original order) /
    ``clean_text``.

    Scale notes (100 TB): only the dehydrated (id, pos, line) projection
    rides any shuffle — the winner-per-line aggregation carries O(1) state
    (min-struct, count), so a paragraph duplicated across 10^10 documents is
    absorbed by map-side partial aggregation; the winner dim keeps only
    lines with >= 2 occurrences (unique lines can never be dropped), and the
    occurrence->winner equi-join is left to AQE (broadcast when the dup dim
    is small, skew-split when one line dominates). The rebuild drops by
    POSITION (an int array bounded by each document's own line count), so
    document text never shuffles and intra-doc repeats of the winning line
    are removed precisely."""
    from pyspark import StorageLevel

    from .cache import track

    light = track(
        df.select(F.col(id_col),
                  F.posexplode(lines_col).alias("pos", "line"))
        .persist(StorageLevel.MEMORY_AND_DISK))

    # One winner per duplicated line: minimal (id, pos) occurrence.
    winners = (
        light.groupBy("line")
        .agg(F.count(F.lit(1)).alias("n"),
             F.min(F.struct(F.col(id_col).alias("id"),
                            F.col("pos").alias("pos"))).alias("first"))
        .filter(F.col("n") >= 2)
        .select("line", "first")
    )

    drops = (
        light.join(winners, "line", "inner")
        .filter(~((F.col(id_col) == F.col("first.id"))
                  & (F.col("pos") == F.col("first.pos"))))
        .groupBy(id_col)
        .agg(F.collect_set("pos").alias("_drop"))
    )

    joined = df.select(
        F.col(id_col),
        F.greatest(F.size(lines_col), F.lit(0)).alias("n_lines"),
        F.coalesce(
            F.col(lines_col), F.array().cast("array<string>")
        ).alias("_lines"),
    ).join(drops, id_col, "left")

    kept = F.when(
        F.col("_drop").isNull(), F.col("_lines")
    ).otherwise(
        F.filter(F.col("_lines"),
                 lambda _ln, i: ~F.array_contains(F.col("_drop"), i)))
    return joined.select(
        id_col,
        "n_lines",
        kept.alias("kept_lines"),
    ).select(
        id_col,
        "n_lines",
        "kept_lines",
        F.concat_ws("\n", "kept_lines").alias("clean_text"),
        (F.col("n_lines") - F.size("kept_lines")).alias("n_dropped"),
    )
