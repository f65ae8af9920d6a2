"""Repetition stats, boilerplate line removal, benchmark decontamination."""

import random
import re
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from pysparkdedup.decontam import contamination
from pysparkdedup.repetition import (
    chunk_lines_expr,
    drop_boilerplate_lines,
    repetition_stats,
)
from pysparkdedup.textstats import tokens_col


def docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def by_id(df):
    return {r["doc_id"]: r.asDict() for r in df.collect()}


def test_repetition_stats_values(spark):
    d = docs(spark, [
        (1, "a b a b a"),   # 2-grams: "a b" x2, "b a" x2
        (2, "x y z"),       # "x y", "y z" once each
        (3, ""),            # no grams
        (4, None),
    ])
    got = by_id(repetition_stats(d, n=2))
    assert got[1]["n_grams"] == 4 and got[1]["distinct_grams"] == 2
    assert got[1]["dup_gram_frac"] == 1.0
    # top gram: cnt ties at 2, len ties at 3, "b a" > "a b" lexically
    assert got[1]["top_gram_frac"] == pytest.approx(0.5)
    assert got[2]["n_grams"] == 2 and got[2]["dup_gram_frac"] == 0.0
    assert got[2]["top_gram_frac"] == pytest.approx(0.5)
    for empty in (3, 4):
        assert got[empty]["n_grams"] == 0
        assert got[empty]["top_gram_frac"] == 0.0
        assert got[empty]["dup_gram_frac"] == 0.0


def test_repetition_stats_short_doc_no_gram(spark):
    # doc shorter than n yields zero grams, not a crash
    got = by_id(repetition_stats(docs(spark, [(1, "solo")]), n=2))
    assert got[1]["n_grams"] == 0


def test_chunk_lines(spark):
    text = " ".join(f"t{i}" for i in range(25))
    row = docs(spark, [(1, text)]).select(
        chunk_lines_expr(F.col("text"), 10).alias("lines")).head()
    lines = row["lines"]
    assert len(lines) == 3
    assert lines[0].split() == [f"t{i}" for i in range(10)]
    assert lines[2].split() == [f"t{i}" for i in range(20, 25)]


def reference_chunk_lines(tokens, w):
    """The earlier lambda chunker, kept as the reference form: slice the
    materialized token array every ``w`` tokens and space-join."""
    n_chunks = F.ceil(F.size(tokens) / F.lit(w)).cast("int")
    return F.when(
        n_chunks > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - F.lit(1)),
            lambda i: F.concat_ws(" ", F.slice(tokens, i * w + 1, w)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def assert_chunkers_agree(df, ws):
    # A projection, not a filter: a filter would inline the token array
    # into the reference lambdas, which re-tokenize once per chunk.
    rows = df.withColumn("_toks", tokens_col()).select(
        "doc_id",
        *[chunk_lines_expr(F.col("text"), w).alias(f"regex{w}") for w in ws],
        *[reference_chunk_lines(F.col("_toks"), w).alias(f"ref{w}")
          for w in ws],
    ).collect()
    for r in rows:
        for w in ws:
            assert r[f"regex{w}"] is not None, (w, r["doc_id"])
            assert r[f"regex{w}"] == r[f"ref{w}"], (w, r["doc_id"])


def test_chunk_lines_equal_reference_form_on_edge_cases(spark):
    words = " ".join(f"w{i}" for i in range(30))
    rows = [
        # null and blank; leading, trailing and \x0B whitespace
        None, "", " ", " \t\n\x0B\f\r ",
        "  lead and trail  ", "\x0Bvt\x0Bsplit\x0B",
        # spaces outside Java's \s stay inside a token
        "nbsp\u00a0glued em\u2003space\u3000ideo \u200b",
        # Unicode upper case, some of it lowering to two chars
        "ÀÉÎ ΣΑΣ İSTANBUL ǅ ẞ Ωmega",
        # 30 tokens, a multiple of every w below; then 31
        words, words + " extra",
        "one",
    ]
    d = docs(spark, list(enumerate(rows)))
    assert_chunkers_agree(d, (1, 2, 3, 10, 30))
    got = {r["doc_id"]: r["lines"] for r in d.select(
        "doc_id", chunk_lines_expr(F.col("text"), 3).alias("lines")
    ).collect()}
    assert got[0] == got[1] == got[2] == got[3] == []
    assert got[4] == ["lead and trail"]
    assert got[5] == ["vt split"]
    assert len(got[8]) == 10


def test_chunk_lines_equal_reference_form_on_perfbench_corpus(spark):
    from pysparkdedup.corpus import pages_and_truth

    pages, _ = pages_and_truth(spark, 4000, 42)
    d = pages.select(F.col("url").alias("doc_id"), "text")
    assert_chunkers_agree(d, (1, 10))


@pytest.mark.parametrize("bad", [0, -3])
def test_chunk_lines_reject_tokens_per_line_below_one(spark, bad):
    from pysparkdedup.curate import curate_pages
    from pysparkdedup.repetition import with_chunk_lines

    d = docs(spark, [(1, "a b c")])
    with pytest.raises(ValueError, match="tokens_per_line"):
        chunk_lines_expr(F.col("text"), bad)
    with pytest.raises(ValueError, match="tokens_per_line"):
        with_chunk_lines(d, bad)
    pages = d.withColumnRenamed("doc_id", "url")
    for mode in ("chunk", "auto"):
        with pytest.raises(ValueError, match="tokens_per_line"):
            curate_pages(pages, boilerplate_min_df=2, line_mode=mode,
                         tokens_per_line=bad)


def with_lines(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, lines array<string>")


def test_drop_boilerplate_counts_docs_not_occurrences(spark):
    # footer occurs 3 times but in only 2 documents: min_df counts docs
    d = with_lines(spark, [
        (1, ["footer", "footer", "body1"]),
        (2, ["footer", "body2"]),
    ])
    got = by_id(drop_boilerplate_lines(d, min_df=3))
    assert got[1]["kept_lines"] == ["footer", "footer", "body1"]
    assert got[2]["n_dropped"] == 0
    got = by_id(drop_boilerplate_lines(d, min_df=2))
    assert got[1]["kept_lines"] == ["body1"]
    assert got[2]["kept_lines"] == ["body2"]


def test_drop_boilerplate_lines(spark):
    d = with_lines(spark, [
        (1, ["head", "footer", "body one", "footer"]),
        (2, ["footer", "body two"]),
        (3, ["footer"]),
        (4, []),
    ])
    got = by_id(drop_boilerplate_lines(d, min_df=3))
    assert got[1]["kept_lines"] == ["head", "body one"]  # order preserved
    assert got[1]["clean_text"] == "head\nbody one"
    assert got[1]["n_lines"] == 4 and got[1]["n_dropped"] == 2
    assert got[2]["kept_lines"] == ["body two"]
    assert got[3]["kept_lines"] == [] and got[3]["clean_text"] == ""
    assert got[4]["n_lines"] == 0 and got[4]["n_dropped"] == 0


def test_drop_boilerplate_threshold_not_met(spark):
    d = with_lines(spark, [
        (1, ["shared", "a"]),
        (2, ["shared", "b"]),
    ])
    got = by_id(drop_boilerplate_lines(d, min_df=3))
    assert got[1]["kept_lines"] == ["shared", "a"]
    assert got[2]["n_dropped"] == 0


def test_contamination(spark):
    corpus = docs(spark, [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "completely unrelated words here only friend"),
        (3, ""),
    ])
    benchmark = docs(spark, [
        (100, "quick brown fox jumps"),
    ])
    got = by_id(contamination(corpus, benchmark, k=3))
    assert got[1]["contaminated"] is True
    # benchmark 3-shingles: "quick brown fox", "brown fox jumps" — both in doc 1
    assert got[1]["n_overlap"] == 2
    assert got[1]["n_shingles"] == 7
    assert got[2]["contaminated"] is False and got[2]["n_overlap"] == 0
    assert got[3]["n_shingles"] == 0 and got[3]["contaminated"] is False


def test_contamination_plan_broadcasts_benchmark(spark):
    """The corpus side must not shuffle for the overlap join: the benchmark
    shingle dim is broadcast (100-TB contract of decontam.py)."""
    from tests.test_plans import plan_of

    corpus = docs(spark, [(i, f"w{i} w{i+1} w{i+2} w{i+3}") for i in range(20)])
    benchmark = docs(spark, [(999, "w5 w6 w7")])
    plan = plan_of(contamination(corpus, benchmark, k=3))
    assert "BroadcastHashJoin" in plan


def test_repetition_stats_matches_python_reference_randomized(spark):
    """The run-length F.aggregate kernel vs a direct Counter-based reference
    over 200 random small-alphabet docs (repeats guaranteed), one Spark job.
    Covers empty docs, all-same-token docs, and tie-break cases by volume."""
    import random
    from collections import Counter

    rng = random.Random(1234)
    vocab = ["a", "bb", "ccc", "dd", "e"]
    rows = []
    for i in range(200):
        n_tok = rng.choice([0, 1, 2, 3, 5, 8, 13, 30])
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(n_tok))))

    def ref(text, n=2):
        toks = [t for t in text.lower().split() if t]
        grams = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
        if not grams:
            return (0, 0, 0.0, 0.0)
        c = Counter(grams)
        total = sum(cnt * len(g) for g, cnt in c.items())
        dup = sum(cnt * len(g) for g, cnt in c.items() if cnt >= 2)
        top = max(c.items(), key=lambda kv: (kv[1], len(kv[0]), kv[0]))
        return (len(grams), len(c),
                round(top[1] * len(top[0]) / total, 4),
                round(dup / total, 4))

    got = {r["doc_id"]: (r["n_grams"], r["distinct_grams"],
                         r["top_gram_frac"], r["dup_gram_frac"])
           for r in repetition_stats(docs(spark, rows), n=2).collect()}
    for i, (_, text) in enumerate(rows):
        eng, exp = got[i], ref(text)
        assert eng[:2] == exp[:2], f"doc {i}: {text!r}"
        # floats within 1e-4ish: Python round() is banker's, Spark's is
        # HALF_UP — a .xxxx5 tie may legitimately differ in the 4th decimal
        assert eng[2] == pytest.approx(exp[2], abs=6e-5), f"doc {i}: {text!r}"
        assert eng[3] == pytest.approx(exp[3], abs=6e-5), f"doc {i}: {text!r}"


def test_half_up_rounding_pinned(spark):
    """The kernel must reproduce JVM F.round (HALF_UP on the shortest
    decimal repr), not numpy/Python banker's rounding: 32 distinct
    single-char tokens at n=1 give top_gram_frac exactly 1/32 = 0.03125,
    a representable .xxxx5 tie — HALF_UP says 0.0313 where half-to-even
    says 0.0312. The DuckDB oracle replays exact rounded values, so this
    boundary is load-bearing."""
    import string

    text = " ".join(string.ascii_lowercase + string.digits[:6])
    got = by_id(repetition_stats(docs(spark, [(1, text)]), n=1))
    assert got[1]["n_grams"] == 32 and got[1]["distinct_grams"] == 32
    assert got[1]["top_gram_frac"] == 0.0313   # HALF_UP, not 0.0312


def test_half_up_survives_numpy2_scalar_repr():
    """numpy >= 2.0 reprs scalars as 'np.float64(0.5)', which Decimal
    rejects — _round4_half_up must coerce through float() (shortest
    round-trip repr preserved) before Decimal. Pinned with a stand-in
    whose repr mimics numpy 2.x, so the guard holds on numpy 1.26 too."""
    import numpy as np

    from pysparkdedup.repetition import _round4_half_up

    class Np2Scalar(float):
        def __repr__(self):
            return f"np.float64({float.__repr__(self)})"

    assert _round4_half_up(Np2Scalar(0.03125)) == 0.0313
    assert _round4_half_up(np.float64(0.03125)) == 0.0313
    assert _round4_half_up(0.12344999999999999) == 0.1234


def test_repetition_profile_multi_n(spark):
    """repetition_profile(ns=(2,3,4)) returns the full Gopher family in
    one pass, each n's columns equal to the standalone repetition_stats
    run at that n."""
    from pysparkdedup.repetition import REP_COLS, repetition_profile

    rows = [
        (1, "a b a b a b c"),
        (2, "x y z x y z x y z"),
        (3, "solo"),
        (4, None),
    ]
    prof = by_id(repetition_profile(docs(spark, rows), ns=(2, 3, 4)))
    for n in (2, 3, 4):
        single = by_id(repetition_stats(docs(spark, rows), n=n))
        for i, _ in rows:
            for c in REP_COLS:
                assert prof[i][f"{c}_{n}"] == single[i][c], (i, n, c)
    # sanity on one hand-computed value: doc 2 "x y z"x3 3-grams:
    # 9 tokens -> 7 grams; "x y z" x3 (len 5), "y z x" x2, "z x y" x2
    assert prof[2]["n_grams_3"] == 7 and prof[2]["distinct_grams_3"] == 3
    assert prof[2]["dup_gram_frac_3"] == 1.0


def test_repetition_profile_randomized_all_n(spark):
    """Counter-based Python reference vs the batched kernel for n in
    {1,2,3,4} over random small-alphabet docs — counts exact, fractions
    replayed with the same HALF_UP decimal rounding (exact equality)."""
    import random
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    from pysparkdedup.repetition import repetition_profile

    rng = random.Random(77)
    vocab = ["a", "bb", "ccc", "dd", "e", "ffff"]
    rows = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.choice([0, 1, 2, 3, 5, 8, 21]))))
            for i in range(120)]

    def ref(text, n):
        toks = [t for t in text.lower().split() if t]
        grams = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
        if not grams:
            return (0, 0, 0.0, 0.0)
        c = Counter(grams)
        total = sum(cnt * len(g) for g, cnt in c.items())
        dup = sum(cnt * len(g) for g, cnt in c.items() if cnt >= 2)
        bc, bl = max((cnt, len(g)) for g, cnt in c.items())

        def r4(x):
            return float(Decimal(repr(x)).quantize(
                Decimal("0.0001"), rounding=ROUND_HALF_UP))

        return (len(grams), len(c), r4(bc * bl / max(total, 1)),
                r4(dup / max(total, 1)))

    got = by_id(repetition_profile(docs(spark, rows), ns=(1, 2, 3, 4)))
    for i, text in rows:
        for n in (1, 2, 3, 4):
            exp = ref(text, n)
            eng = (got[i][f"n_grams_{n}"], got[i][f"distinct_grams_{n}"],
                   got[i][f"top_gram_frac_{n}"], got[i][f"dup_gram_frac_{n}"])
            assert eng == exp, f"doc {i} n={n}: {text!r}"


def lines_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, lines array<string>")


def test_keep_first_cross_doc(spark):
    from pysparkdedup.repetition import dedup_lines_keep_first
    d = lines_df(spark, [
        (1, ["A", "u1", "B"]),
        (2, ["u2", "A", "B", "u3"]),   # A and B both seen first in doc 1
        (3, ["B"]),                    # fully deduped away
    ])
    got = by_id(dedup_lines_keep_first(d))
    assert got[1]["kept_lines"] == ["A", "u1", "B"]   # first copies survive
    assert got[2]["kept_lines"] == ["u2", "u3"]
    assert got[2]["n_dropped"] == 2
    assert got[3]["kept_lines"] == [] and got[3]["clean_text"] == ""
    assert got[2]["clean_text"] == "u2\nu3"


def test_keep_first_intra_doc_repeat(spark):
    from pysparkdedup.repetition import dedup_lines_keep_first
    d = lines_df(spark, [(1, ["A", "x", "A", "A"])])
    got = by_id(dedup_lines_keep_first(d))
    assert got[1]["kept_lines"] == ["A", "x"]   # only pos 0's copy survives
    assert got[1]["n_dropped"] == 2


def test_keep_first_winner_is_min_id_pos(spark):
    from pysparkdedup.repetition import dedup_lines_keep_first
    # the winner is the minimal (doc_id, pos) occurrence, not arbitrary
    d = lines_df(spark, [
        (5, ["z", "A"]),
        (2, ["y", "A"]),   # doc 2 < doc 5 -> doc 2's copy survives
    ])
    got = by_id(dedup_lines_keep_first(d))
    assert got[2]["kept_lines"] == ["y", "A"]
    assert got[5]["kept_lines"] == ["z"]


def test_keep_first_unique_and_empty_rows(spark):
    from pysparkdedup.repetition import dedup_lines_keep_first
    d = lines_df(spark, [
        (1, ["only", "unique", "lines"]),
        (2, []),
        (3, None),
    ])
    got = by_id(dedup_lines_keep_first(d))
    assert got[1]["kept_lines"] == ["only", "unique", "lines"]
    assert got[1]["n_dropped"] == 0
    assert got[2]["kept_lines"] == [] and got[2]["n_lines"] == 0
    assert got[3]["kept_lines"] == [] and got[3]["n_lines"] == 0


def test_drop_boilerplate_null_lines_are_kept(spark):
    """Null entries in the lines array are layout, not dedupable values:
    they never enter the document-frequency aggregation (null groups join
    nothing) and survive the positional drop in every document — including
    documents that DO have boilerplate hits. Pins the position-membership
    semantics (r7): the earlier array_contains formulation silently dropped
    null lines from any doc with a hit."""
    d = spark.createDataFrame(
        [(1, ["promo", None, "keep me"]),
         (2, ["promo", "other"]),
         (3, ["promo", None]),
         (4, [None, "solo"])],
        "doc_id long, lines array<string>")
    got = by_id(drop_boilerplate_lines(d, min_df=3))
    assert got[1]["kept_lines"] == [None, "keep me"]
    assert got[1]["n_dropped"] == 1
    assert got[2]["kept_lines"] == ["other"]
    assert got[3]["kept_lines"] == [None]
    # a doc with no hits keeps nulls too (and is untouched)
    assert got[4]["kept_lines"] == [None, "solo"]
    assert got[4]["n_dropped"] == 0


# -- seeded reference for the line stages ------------------------------------
# drop_boilerplate_lines, dedup_lines_keep_first and curate_pages' fused
# line section share one primitive (line_drops + kept_lines), so each is
# checked here against plain Python implementing the documented rules.

LINE_VOCAB = ["nav home", "cookie banner", "footer", "share this",
              "read more", "related posts", "subscribe", "rare one",
              "rare two", "rare three", "", "  "]
LINE_WEIGHTS = [14, 10, 8, 6, 5, 4, 3, 2, 2, 1, 6, 3]
_NON_WS = re.compile(r"[^ \t\n\x0b\f\r]")   # Java's \S


def seeded_line_docs(seed=13, n=60):
    """id -> lines: skewed shared vocabulary (document frequencies 2..27),
    doc-local lines that repeat inside their doc, blank lines, null
    entries, and empty and null arrays; ids in shuffled order."""
    rng = random.Random(seed)
    docs = {}
    for j, i in enumerate(rng.sample(range(1, 500), n)):
        if j < 5:
            docs[i] = [] if j < 3 else None
            continue
        lines = []
        for p in range(rng.randint(1, 8)):
            r = rng.random()
            if r < 0.05:
                lines.append(None)
            elif r < 0.35:
                lines.append(f"body {i} {p % 3}")
            else:
                lines.append(rng.choices(LINE_VOCAB, LINE_WEIGHTS)[0])
        docs[i] = lines
    return docs


def reference_drops(docs, min_df=0, keep_first=False, exempt=None):
    """(id, pos) pairs dropped: a line is boilerplate when at least min_df
    DISTINCT docs hold it; the keep-first winner is the minimal (id, pos)
    among the survivors; a null line is never dropped; ``exempt`` lines
    never take part."""
    occ = sorted((i, p, ln) for i, lines in docs.items()
                 for p, ln in enumerate(lines or [])
                 if ln is not None and not (exempt and exempt(ln)))
    holders = defaultdict(set)
    for i, _, ln in occ:
        holders[ln].add(i)
    drop = {(i, p) for i, p, ln in occ
            if min_df > 0 and len(holders[ln]) >= min_df}
    if keep_first:
        seen = set()
        for i, p, ln in occ:
            if (i, p) not in drop:
                if ln in seen:
                    drop.add((i, p))
                seen.add(ln)
    return drop


def reference_rows(docs, drop):
    out = {}
    for i, lines in docs.items():
        lines = lines or []
        kept = [ln for p, ln in enumerate(lines) if (i, p) not in drop]
        out[i] = {"doc_id": i, "n_lines": len(lines), "kept_lines": kept,
                  "clean_text": "\n".join(ln for ln in kept
                                          if ln is not None),
                  "n_dropped": len(lines) - len(kept)}
    return out


def test_line_stages_match_python_reference(spark):
    from pysparkdedup.curate import curate_pages
    from pysparkdedup.repetition import dedup_lines_keep_first

    docs = seeded_line_docs()
    d = with_lines(spark, list(docs.items()))
    assert by_id(dedup_lines_keep_first(d)) == reference_rows(
        docs, reference_drops(docs, keep_first=True))

    # newline text of the same docs: null entries cannot be spelled in
    # text, a null array becomes null text, and blank lines are exempt
    texts = {f"u/{i}": None if lines is None
             else "\n".join(ln for ln in lines if ln is not None)
             for i, lines in docs.items()}
    pages = spark.createDataFrame(list(texts.items()),
                                  "url string, text string")
    split = {u: (t or "").split("\n") for u, t in texts.items()}
    for k in (3, 10):
        drop = reference_drops(docs, min_df=k)
        assert by_id(drop_boilerplate_lines(d, min_df=k)) == reference_rows(
            docs, drop)
        drop = reference_drops(split, min_df=k, keep_first=True,
                               exempt=lambda ln: not _NON_WS.search(ln))
        want = {u: "\n".join(ln for p, ln in enumerate(lines)
                             if (u, p) not in drop)
                for u, lines in split.items()}
        got = curate_pages(pages, boilerplate_min_df=k, dedup_paragraphs=True,
                           line_mode="newline")
        assert {r["url"]: r["text"] for r in got.collect()} == want
    # the two thresholds split the shared vocabulary differently
    assert reference_drops(docs, min_df=3) != reference_drops(docs, min_df=10)
