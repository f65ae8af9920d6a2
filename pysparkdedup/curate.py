"""One-call training-data curation pass composing the engine's corpus
filters — the user-facing analog of the reference's single `mdedup` verb
(ref cli.py:656-674's one-command pipeline), applied to web-text curation
instead of mailbox dedup.

Stage order follows the public curation-pipeline literature (Gopher / CCNet
/ Dolma): document-level repetition filter first (drop spam before paying
for corpus-wide aggregations), then corpus-level boilerplate removal, then
keep-first paragraph dedup, then PII redaction on the surviving text.

Scale notes (100 TB): every stage reuses the shuffle-discipline of its
module — repetition_stats is shuffle-free and the line ops dehydrate (only
(id, line/pos) projections shuffle) — but the COMPOSITION is flattened
rather than chained: one persisted per-document lines frame feeds the
shared ``repetition.line_drops`` primitive for both line stages, whose one
per-document drop set is applied by one order-preserving
``repetition.kept_lines`` filter, so line splitting or chunking, the
repetition gram sort, and the text rebuild each run exactly once per pass
(chaining the standalone ops re-executes the corpus lineage per stage —
Spark has no DAG-level CSE; measured 4-6x re-compute). The full text
column rides exactly one id-keyed rebuild join, never an aggregation.

The costliest per-row steps are codegen'd JVM expressions, not lambdas:
pseudo-lines are two linear regexes (``repetition.chunk_lines_expr``),
the email and phone regexes run only on rows holding the literal they
need (``pii.PII_GATES``), and the boilerplate document frequency counts
each document's distinct lines, exploded from its own row, so its only
shuffle is the one on the line.

Line units are selectable (``line_mode``): ``"newline"`` splits on real
``'\\n'`` — the right choice for web text, and LOSSLESS for documents that
lose no lines (split + re-join with ``'\\n'`` is an exact inverse, so case
and layout survive); ``"chunk"`` uses normalized 10-token pseudo-lines
(lowercased, whitespace-collapsed) for newline-free corpora — same
convention as the driver-contract line queries, and destructive by design
(text is rewritten in pseudo-line space); ``"auto"`` picks per document
(real lines when the doc contains ``'\\n'``, pseudo-lines otherwise), the
safe default posture for mixed crawls where ``"newline"`` would silently
exempt newline-free docs from both line stages.

Blank lines (empty or whitespace-only) are structure, not content: both
line stages pass them through untouched — they never enter the boilerplate
document-frequency aggregation and never compete in the keep-first winner
pick, matching the public paragraph-dedup pipelines (Dolma/CCNet skip
empty/trivial lines). Without the exemption, every blank line in a
newline-split web corpus is one shared "value" that keep-first dedup
would collapse corpus-wide, flattening the paragraph structure of
essentially every multi-paragraph document. The exemption lives here,
not in the shared primitive: curate filters blank lines out of both
``repetition.exploded_lines`` frames before calling ``line_drops``, and
the standalone ``drop_boilerplate_lines`` / ``dedup_lines_keep_first``
treat them as ordinary lines. Chunk pseudo-lines are never blank, so the
exemption is a no-op in chunk mode.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cache import track
from .pii import redact_pii
from .repetition import (
    chunk_lines_expr, exploded_lines, kept_lines, line_drops,
    repetition_stats, with_chunk_lines)


def curate_pages(
    pages: DataFrame,
    *,
    max_dup_gram_frac: float | None = None,
    boilerplate_min_df: int = 0,
    dedup_paragraphs: bool = False,
    redact: bool = False,
    drop_empty: bool = False,
    tokens_per_line: int = 10,
    line_mode: str = "chunk",
    id_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Returns ``pages`` with low-quality documents dropped and ``text_col``
    rewritten per the enabled stages. All stages default OFF; enabling none
    returns the input unchanged. Schema is preserved.

    - ``max_dup_gram_frac``  : drop documents whose duplicate-2-gram char
      fraction exceeds this (Gopher-style repetition filter);
    - ``boilerplate_min_df`` : > 0 removes every line occurring in that many
      distinct documents (CCNet-style);
    - ``dedup_paragraphs``   : keep-first corpus-wide line dedup
      (Dolma-style);
    - ``redact``             : scrub PII with typed placeholders (pii.py);
    - ``line_mode``          : line unit for the two line stages —
      ``"newline"`` (real ``'\\n'`` lines; lossless for untouched docs),
      ``"chunk"`` (normalized ``tokens_per_line``-token pseudo-lines for
      newline-free corpora; rewrites text in pseudo-line space), or
      ``"auto"`` (per document: real lines when the doc contains ``'\\n'``,
      pseudo-lines otherwise — mixed-crawl safe). A ``tokens_per_line``
      below 1 raises ``ValueError`` when a line stage chunks.

    - ``drop_empty``         : drop documents whose FINAL text has no
      non-whitespace content — docs fully consumed by the line stages
      (e.g. an exact duplicate whose every line lost corpus-wide
      keep-first dedup) as well as docs that arrived empty. The standard
      tail step of public curation pipelines; matters especially ahead
      of trainpipe's dedup cascade, where blank docs are unconditional
      singletons the exact tier cannot collapse. A stateless JVM regexp
      filter — no shuffle.

    Blank (whitespace-only) lines are exempt from both line stages — see
    the module docstring.
    """
    if line_mode not in ("chunk", "newline", "auto"):
        raise ValueError(
            f"line_mode must be 'chunk', 'newline' or 'auto', "
            f"got {line_mode!r}")
    cur = pages
    if max_dup_gram_frac is not None:
        reps = repetition_stats(cur, n=2, id_col=id_col, text_col=text_col)
        # Persist the slim (id, score) frame BEFORE filtering, for two
        # compounding reasons. (1) No DAG-level CSE: every downstream
        # consumer of `cur` re-executes its lineage, and the repetition
        # gram sort + run-length aggregate is the most expensive per-doc
        # expression in the pass — measured 4-6x re-execution before this
        # rewrite. (2) Filtering directly on the aggregate-derived column
        # lets Catalyst inline the whole higher-order expression into the
        # filter predicate (HOFs are CodegenFallback — interpreted, no
        # subexpression reuse), measured ~7x the cost of projecting the
        # same column; the persist boundary forces one evaluation per row
        # into the cache and the filter then reads materialized values.
        rep_scores = track(
            reps.select(id_col, "dup_gram_frac")
            .persist(StorageLevel.MEMORY_AND_DISK))
        bad = rep_scores.filter(
            F.col("dup_gram_frac") > max_dup_gram_frac).select(id_col)
        cur = cur.join(bad, id_col, "left_anti")
    if boilerplate_min_df > 0 or dedup_paragraphs:
        # Fused line section. Chaining drop_boilerplate_lines and
        # dedup_lines_keep_first re-tokenizes and re-rebuilds the corpus
        # once per stage; here ONE persisted lines frame feeds
        # line_drops for both stages and ONE order-preserving filter
        # applies the merged drop set. The fusion is order-safe: the filter
        # keeps relative order within each doc, so argmin(id, original_pos)
        # picks the same keep-first occurrence as argmin(id, post-filter
        # pos) — id dominates the struct order and pos only breaks ties
        # inside one document. It is NOT output-identical to the standalone
        # ops on blank lines, which are exempt here (see the module
        # docstring); test_curate.py pins equivalence on blank-free corpora
        # and the exemption on corpora with them.
        raw_lines = F.split(
            F.coalesce(F.col(text_col), F.lit("")), "\n")
        if line_mode == "newline":
            lines_src = cur.select(F.col(id_col), raw_lines.alias("lines"))
        elif line_mode == "auto":
            # Per-doc unit pick: CaseWhen evaluates only the taken branch
            # per row, so newline docs never pay the chunking regexes.
            lines_src = cur.select(
                F.col(id_col),
                F.when(
                    F.coalesce(F.col(text_col), F.lit("")).contains("\n"),
                    raw_lines,
                ).otherwise(
                    chunk_lines_expr(F.col(text_col), tokens_per_line)
                ).alias("lines"))
        else:
            lines_src = with_chunk_lines(
                cur, tokens_per_line, text_col=text_col).select(
                    id_col, "lines")
        # Splitting or chunking runs exactly once into this cache; both
        # exploded frames and the rebuild read the arrays back.
        lines_src = track(lines_src.persist(StorageLevel.MEMORY_AND_DISK))
        # Blank-line exemption: whitespace-only lines never reach
        # line_drops, so their positions never enter the drop set and the
        # rebuild keeps them unconditionally.
        nonblank = F.col("line").rlike(r"\S")
        light, uniq = (
            f.filter(nonblank) for f in exploded_lines(lines_src, id_col))
        rebuilt = lines_src.join(
            line_drops(light, uniq, id_col, boilerplate_min_df,
                       dedup_paragraphs),
            id_col, "left")
        kept = kept_lines(F.col("lines"), F.col("_drop"))
        if drop_empty:
            # Decide emptiness from the kept lines, not the rebuilt text:
            # a filter on the text is pushed below the rebuild projection
            # and inlines the interpreted rebuild (and any redaction above
            # it) a second time. The '\n' separators are whitespace, so the
            # rebuilt text is blank exactly when every kept line is.
            rebuilt = rebuilt.filter(
                F.exists(kept, lambda ln: ln.rlike(r"\S")))
        rebuilt = rebuilt.select(
            F.col(id_col), F.concat_ws("\n", kept).alias(text_col))
        cur = cur.drop(text_col).join(rebuilt, id_col)
    elif drop_empty:
        # null text is dropped too (rlike -> null)
        cur = cur.filter(F.col(text_col).rlike(r"\S"))
    # Redaction runs after drop_empty and cannot change its verdict: every
    # PII pattern needs a non-space character and every placeholder is
    # non-blank. In this order the filter never inlines the regex chain.
    if redact:
        cur = redact_pii(cur, text_col=text_col, out_col=text_col)
    # preserve the caller's column order (joins append the rebuilt text)
    return cur.select(*pages.columns)
