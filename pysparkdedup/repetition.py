"""Repetition / boilerplate operators for training-data curation.

Public-literature curation filters the reference's per-mailbox model has
no analog for, but a web-scale corpus pipeline needs alongside dedup:

- ``repetition_stats`` — per-document repetition signals in the style of
  Gopher's repetition filters (Rae et al. 2021, "Scaling Language Models",
  appendix A1.1): fraction of characters in the most frequent n-gram and
  fraction of character mass in n-grams occurring more than once. Documents
  dominated by repeated n-grams are low-quality boilerplate/spam.

- ``drop_boilerplate_lines`` — corpus-level line deduplication in the style
  of CCNet (Wenzek et al. 2020): a line occurring in many documents
  (navigation chrome, cookie banners, footers) is boilerplate; drop it from
  every document while preserving the order of what remains.

- ``dedup_lines_keep_first`` — corpus-wide paragraph dedup in the style of
  Dolma: every copy of a line except its first occurrence is removed.

Both line ops, and the fused line section of ``curate.curate_pages``, are
one shape — group the exploded lines, decide per line, drop per position —
and share one primitive: ``exploded_lines`` builds its two inputs from a
per-document lines array, ``line_drops`` computes the per-document drop
positions of either stage or both, and ``kept_lines`` is the
order-preserving positional filter that applies them. Each caller keeps
only its own part: the standalone ops their accounting columns, curate its
line unit, its blank-line exemption (blank lines are filtered out of both
exploded frames before ``line_drops``) and its ``drop_empty`` test.

Scale notes (100 TB):
- ``repetition_stats`` / ``repetition_profile`` are SHUFFLE-FREE
  (plan-gated: zero Exchange nodes): per-document signals computed by an
  numpy kernel over each ``mapInArrow`` batch — embarrassingly
  parallel, a mega-document costs only its own gram count within its
  task, and the whole batch is one dictionary encode + one lexsort per n
  (per-row Python only to tokenize and round). The line ops are pure JVM
  column algebra, and so is ``chunk_lines_expr``'s pseudo-line unit (two
  linear regexes, no lambdas).
- The line ops dehydrate: only the light (id, pos, line) projection and
  the per-document distinct (id, line) rows ride the verdict aggregations
  (count-only / min-struct state, so partial agg absorbs hot lines); the
  document frequency shuffles once, on the line; both drop sets leave
  through one per-document ``collect_set`` of positions, and the rebuild
  filters each document's OWN lines array against that one per-doc
  frame, so the corpus text never shuffles.
"""

from __future__ import annotations

import re
from decimal import ROUND_HALF_UP, Decimal
from functools import reduce

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .cache import track


def with_chunk_lines(
    df: DataFrame,
    tokens_per_line: int = 10,
    text_col: str = "text",
    out_col: str = "lines",
) -> DataFrame:
    """``df`` plus an ``out_col`` array of deterministic pseudo-lines
    (``chunk_lines_expr`` of ``text_col``)."""
    return df.withColumn(
        out_col, chunk_lines_expr(F.col(text_col), tokens_per_line))


def chunk_lines_expr(text: Column, tokens_per_line: int) -> Column:
    """Deterministic pseudo-lines of ``text``: consecutive
    ``tokens_per_line``-token chunks of its lowercased whitespace tokens
    (the ``textstats.tokens_col`` tokenizer), space-joined. Gives
    newline-free corpora (like the synthetic documents table) a
    well-defined line unit; real web text uses ``split(text, '\\n')``
    instead.

    Two linear JVM regex passes, no lambdas: every whitespace run becomes
    one space, then each match of ``\\S+(?: \\S+){0,w-1}`` is one chunk.
    The greedy match takes a whole token and up to ``w - 1`` more, and the
    next match starts at the next token, so the chunks are exactly the
    token array cut every ``w`` tokens. A null or blank text has none."""
    if tokens_per_line < 1:
        raise ValueError(
            f"tokens_per_line must be >= 1, got {tokens_per_line!r}")
    spaced = F.regexp_replace(
        F.lower(F.coalesce(text, F.lit(""))), r"\s+", " ")
    return F.regexp_extract_all(
        spaced, F.lit(rf"\S+(?: \S+){{0,{tokens_per_line - 1}}}"), 0)


# Java's default \s (no UNICODE_CHARACTER_CLASS): [ \t\n\x0B\f\r] — the
# kernel must tokenize byte-identically to textstats.tokens_col's
# F.split(..., \s+).
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


def _profile_batch(batch: pa.RecordBatch, ns: tuple[int, ...],
                   id_col: str, text_col: str) -> pa.RecordBatch:
    """One Arrow batch -> per-doc repetition stats for every n in ``ns``.

    Fully batch-vectorized: one tokenize + dictionary encode over the whole
    batch (exact string identity — no hash collisions), then per n one
    sliding-window view, one lexsort by (doc, gram) and a run-length /
    reduceat pass. The only per-row Python is the tokenizer (``str.lower``
    and ``_WS_RE``) and the final HALF_UP rounding of two ratios per
    (doc, n)."""
    toks: list[list[str]] = []
    for t in batch.column(text_col).to_pylist():
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
        codes = pc.dictionary_encode(pa.array(flat, pa.large_string())
                                     ).indices.to_numpy().astype(np.int64)
        tlen = np.fromiter(map(len, flat), dtype=np.int64, count=total)
        doc_of = np.repeat(np.arange(ndocs, dtype=np.int64), doc_lens)
        cs = np.concatenate((np.zeros(1, np.int64), np.cumsum(tlen)))

    out: dict = {id_col: batch.column(id_col)}
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
        out[f"n_grams_{n}"] = pa.array(ng)
        out[f"distinct_grams_{n}"] = pa.array(dg)
        out[f"top_gram_frac_{n}"] = pa.array(
            [_round4_half_up(x) for x in top], pa.float64())
        out[f"dup_gram_frac_{n}"] = pa.array(
            [_round4_half_up(x) for x in dup], pa.float64())
    return pa.RecordBatch.from_pydict(out)


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

    SHUFFLE-FREE: one ``mapInArrow`` pass — tokenization and the exact
    token->code dictionary encoding are shared across all n, so asking for
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

    return df.select(id_col, text_col).mapInArrow(
        lambda batches: (_profile_batch(b, ns, id_col, text_col)
                         for b in batches),
        schema=T.StructType(fields))


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


def exploded_lines(src: DataFrame,
                   id_col: str) -> tuple[DataFrame, DataFrame]:
    """``line_drops``' two inputs from an ``(id_col, lines)`` frame:
    ``light`` = ``(id_col, pos, line)``, one row per line occurrence, and
    ``uniq`` = ``(id_col, line)``, one row per DISTINCT line of a document
    (its repeats collapse inside its own row). A caller that exempts lines
    applies the same filter to both."""
    light = src.select(
        F.col(id_col), F.posexplode("lines").alias("pos", "line"))
    uniq = src.select(
        F.col(id_col), F.explode(F.array_distinct("lines")).alias("line"))
    return light, uniq


def line_drops(
    light: DataFrame,
    uniq: DataFrame,
    id_col: str,
    min_df: int = 0,
    keep_first: bool = False,
) -> DataFrame:
    """Per-document drop positions of the two corpus line stages.

    ``light`` and ``uniq`` are the two frames of ``exploded_lines``, with
    the same lines left out of both. Returns one ``(id_col, _drop)`` row
    per document that loses a line, ``_drop`` the set of its dropped
    positions:
    - ``min_df > 0`` (CCNet boilerplate): every occurrence of a line held
      by at least ``min_df`` DISTINCT documents;
    - ``keep_first`` (Dolma paragraph dedup): among the lines that survive
      the boilerplate stage, every occurrence except the first — the
      minimal (id, pos) under struct order, so the same occurrence wins at
      any partitioning.

    A null line joins neither dim (null keys match nothing), so it is never
    dropped. Lines a caller wants exempt (curate's blank lines) are
    filtered out of ``light`` and ``uniq`` before the call. Both sets leave
    through ONE ``collect_set`` over their union, so a caller rebuilds
    against one per-doc frame bounded by the docs that lose lines.

    Scale notes: the boilerplate dim counts ``uniq`` rows per line, so its
    one shuffle is on the line with count-only state (partial agg absorbs
    hot footers); a document's repeats were collapsed in its own row, not
    by a distinct over (id, line). It is deliberately NOT hint-broadcast —
    every line with df >= min_df qualifies, an unbounded set at web scale,
    so AQE decides from its runtime size. It is persisted only when both
    stages run, the one case with two consumers (its hit positions and the
    survivors' anti-join). ``uniq`` is read only when ``min_df > 0``. The
    winner dim carries O(1) min-struct state and keeps only lines with
    >= 2 occurrences (a unique line can never be dropped).
    """
    if min_df <= 0 and not keep_first:
        raise ValueError("line_drops needs min_df > 0 or keep_first")
    parts = []
    surv = light
    if min_df > 0:
        boiler = (
            uniq.groupBy("line").agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") >= min_df).select("line"))
        if keep_first:
            boiler = track(boiler.persist(StorageLevel.MEMORY_AND_DISK))
            surv = light.join(boiler, "line", "left_anti")
        parts.append(light.join(boiler, "line").select(id_col, "pos"))
    if keep_first:
        first = (
            surv.groupBy("line")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min(F.struct(F.col(id_col).alias("id"),
                                F.col("pos").alias("pos"))).alias("first"))
            .filter(F.col("n") >= 2).select("line", "first"))
        parts.append(
            surv.join(first, "line")
            .filter(~((F.col(id_col) == F.col("first.id"))
                      & (F.col("pos") == F.col("first.pos"))))
            .select(id_col, "pos"))
    return (reduce(DataFrame.union, parts)
            .groupBy(id_col).agg(F.collect_set("pos").alias("_drop")))


def kept_lines(lines: Column, drop: Column) -> Column:
    """``lines`` without the positions in ``drop`` (a ``line_drops`` set),
    original order preserved; a null ``drop`` — a document that loses
    nothing — keeps every line. Membership is an int-set test per
    position, never a string comparison against the dropped lines."""
    return F.when(drop.isNull(), lines).otherwise(
        F.filter(lines, lambda _ln, i: ~F.array_contains(drop, i)))


def _drop_lines(df: DataFrame, lines_col: str, id_col: str,
                min_df: int = 0, keep_first: bool = False) -> DataFrame:
    """The standalone line ops' shared body: explode, ``line_drops``, and
    the ``(n_lines, kept_lines, clean_text, n_dropped)`` rebuild."""
    # The lines projection feeds both exploded frames AND the rebuild;
    # persist it so the caller's lines expression (often the chunking
    # regexes) evaluates once, not per consumer.
    src = track(
        df.select(F.col(id_col), F.col(lines_col).alias("lines"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    light, uniq = exploded_lines(src, id_col)
    drops = line_drops(light, uniq, id_col, min_df=min_df,
                       keep_first=keep_first)
    return src.select(
        F.col(id_col),
        F.greatest(F.size("lines"), F.lit(0)).alias("n_lines"),
        F.coalesce(
            F.col("lines"), F.array().cast("array<string>")
        ).alias("_lines"),
    ).join(drops, id_col, "left").select(
        id_col,
        "n_lines",
        kept_lines(F.col("_lines"), F.col("_drop")).alias("kept_lines"),
    ).select(
        id_col,
        "n_lines",
        "kept_lines",
        F.concat_ws("\n", "kept_lines").alias("clean_text"),
        (F.col("n_lines") - F.size("kept_lines")).alias("n_dropped"),
    )


def drop_boilerplate_lines(
    df: DataFrame,
    min_df: int,
    lines_col: str = "lines",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove every line occurring in >= ``min_df`` distinct documents
    (CCNet-style boilerplate filter).

    Input: a frame with an ``array<string>`` lines column (``split(text,
    '\\n')`` for real web text; ``chunk_lines_expr`` for newline-free
    corpora). Output: one row per document with
    - ``kept_lines`` : surviving lines, original order preserved;
    - ``clean_text`` : the surviving lines re-joined with ``'\\n'``;
    - ``n_lines`` / ``n_dropped`` : accounting.

    ``min_df`` must be positive; repeats inside one document count once
    toward it. Blank lines are ordinary values here (curate_pages exempts
    them). Null entries in the lines array are KEPT in every document: a
    null line cannot be boilerplate (see ``line_drops``), pinned by
    test_drop_boilerplate_null_lines_are_kept. Execution model and scale
    notes: ``line_drops``; the document payload never shuffles.
    """
    return _drop_lines(df, lines_col, id_col, min_df=min_df)


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
    partitioning or parallelism — and intra-doc repeats of the winning
    line are removed too. Output mirrors drop_boilerplate_lines:
    ``n_lines`` / ``n_dropped`` / ``kept_lines`` (original order) /
    ``clean_text``. Execution model and scale notes: ``line_drops``; only
    the dehydrated (id, pos, line) projection rides any shuffle."""
    return _drop_lines(df, lines_col, id_col, keep_first=True)
