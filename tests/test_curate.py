"""curate.curate_pages — stage semantics, composition, schema preservation,
and the CLI curate mode end-to-end."""

from __future__ import annotations

import json

import pytest

from pysparkdedup.curate import curate_pages
from tests.conftest import jobs_of, ts

BOILER = "cookie banner accept all tracking policy terms privacy contact us"


def tail(word: str) -> str:
    return " ".join(f"{word}{i}" for i in range(10))


def by_url(df):
    return {r["url"]: r.asDict() for r in df.collect()}


def test_no_stages_is_identity(spark, pages_factory):
    pages = pages_factory([
        ("u/a", ts(0), "Some Mixed CASE text", "en"),
        ("u/b", ts(1), None, "en"),
    ])
    out = curate_pages(pages)
    assert out.columns == pages.columns
    assert sorted(out.collect()) == sorted(pages.collect())


def test_repetition_filter_drops_spam(spark, pages_factory):
    pages = pages_factory([
        ("u/spam", ts(0), "buy now " * 40, "en"),   # dup_gram_frac ~ 1
        ("u/ok", ts(1), tail("w"), "en"),
    ])
    got = by_url(curate_pages(pages, max_dup_gram_frac=0.5))
    assert set(got) == {"u/ok"}
    assert got["u/ok"]["text"] == tail("w")   # text untouched (no line ops)


def test_boilerplate_removed_from_every_doc(spark, pages_factory):
    rows = [(f"u/{i}", ts(i), f"{BOILER} {tail(chr(97 + i))}", "en")
            for i in range(3)]
    pages = pages_factory(rows)
    got = by_url(curate_pages(pages, boilerplate_min_df=3))
    for i in range(3):
        assert got[f"u/{i}"]["text"] == tail(chr(97 + i))  # tail survives
        assert BOILER not in got[f"u/{i}"]["text"]


def test_paragraph_dedup_keeps_first_only(spark, pages_factory):
    shared = tail("dup")
    pages = pages_factory([
        ("u/1", ts(0), f"{shared} {tail('a')}", "en"),
        ("u/2", ts(1), f"{shared} {tail('b')}", "en"),   # loses its copy
    ])
    got = by_url(curate_pages(pages, dedup_paragraphs=True))
    assert got["u/1"]["text"] == f"{shared}\n{tail('a')}"
    assert got["u/2"]["text"] == tail("b")


def test_redaction_in_place(spark, pages_factory):
    pages = pages_factory([
        ("u/a", ts(0), "mail me at jane@example.com please", "en"),
    ])
    got = by_url(curate_pages(pages, redact=True))
    assert got["u/a"]["text"] == "mail me at <EMAIL> please"
    assert got["u/a"]["lang"] == "en"   # other columns ride through


def test_composed_stages(spark, pages_factory):
    shared = tail("dup")
    rows = [(f"u/b{i}", ts(i), f"{BOILER} {tail(chr(97 + i))}", "en")
            for i in range(3)]
    rows += [
        ("u/spam", ts(10), "buy now " * 40, "en"),
        ("u/d1", ts(11), f"{shared} {tail('x')}", "en"),
        ("u/d2", ts(12), f"{shared} mail jane@example.com now a b c d e f g",
         "en"),
    ]
    got = by_url(curate_pages(
        pages_factory(rows), max_dup_gram_frac=0.5, boilerplate_min_df=3,
        dedup_paragraphs=True, redact=True))
    assert "u/spam" not in got
    for i in range(3):
        assert BOILER not in got[f"u/b{i}"]["text"]
    assert got["u/d1"]["text"].startswith(shared)
    assert not got["u/d2"]["text"].startswith(shared)
    assert "<EMAIL>" in got["u/d2"]["text"]


def test_newline_mode_uses_real_lines(spark, pages_factory):
    """line_mode='newline' splits on real '\\n': boilerplate/paragraph
    stages see the document's own lines, and case/layout survive."""
    footer = "© Example Corp | All Rights Reserved"
    pages = pages_factory([
        ("u/1", ts(0), f"First UNIQUE Paragraph.\n{footer}", "en"),
        ("u/2", ts(1), f"Second body text here.\n{footer}", "en"),
        ("u/3", ts(2), f"Third DIFFERENT content.\n{footer}", "en"),
    ])
    got = by_url(curate_pages(pages, boilerplate_min_df=3,
                              line_mode="newline"))
    assert got["u/1"]["text"] == "First UNIQUE Paragraph."  # case preserved
    for u in ("u/1", "u/2", "u/3"):
        assert footer not in got[u]["text"]


def test_newline_mode_is_lossless_for_untouched_docs(spark, pages_factory):
    """A document that loses no lines must come back byte-identical in
    newline mode (split + concat_ws('\\n') is an exact inverse) — the
    non-destructive property chunk mode cannot give."""
    text = "Mixed CASE\n\n  indented line\ttabbed\nlast"
    pages = pages_factory([("u/a", ts(0), text, "en"),
                           ("u/b", ts(1), "Other Doc\nsecond", "en")])
    got = by_url(curate_pages(pages, boilerplate_min_df=2,
                              dedup_paragraphs=True, line_mode="newline"))
    assert got["u/a"]["text"] == text
    assert got["u/b"]["text"] == "Other Doc\nsecond"


def test_newline_paragraph_dedup_keeps_first(spark, pages_factory):
    shared = "This exact paragraph appears twice."
    pages = pages_factory([
        ("u/1", ts(0), f"{shared}\nunique one", "en"),
        ("u/2", ts(1), f"{shared}\nunique two", "en"),
    ])
    got = by_url(curate_pages(pages, dedup_paragraphs=True,
                              line_mode="newline"))
    assert got["u/1"]["text"] == f"{shared}\nunique one"
    assert got["u/2"]["text"] == "unique two"


def test_drop_empty_removes_fully_consumed_docs(spark, pages_factory):
    """An exact duplicate loses ALL its lines to corpus-wide keep-first
    dedup; drop_empty removes the husk (and never-had-text docs) while the
    default keeps both as empty/None rows."""
    pages = pages_factory([
        ("u/1", ts(0), "only paragraph here", "en"),
        ("u/2", ts(1), "only paragraph here", "en"),  # emptied by keep-first
        ("u/3", ts(2), None, "en"),
        ("u/4", ts(3), "   ", "en"),
    ])
    kw = dict(dedup_paragraphs=True, line_mode="newline")
    dflt = by_url(curate_pages(pages, **kw))
    assert set(dflt) == {"u/1", "u/2", "u/3", "u/4"}
    assert dflt["u/2"]["text"] == ""
    got = by_url(curate_pages(pages, drop_empty=True, **kw))
    assert set(got) == {"u/1"}


def test_blank_lines_exempt_from_line_stages(spark, pages_factory):
    """Blank/whitespace-only lines are layout, not dedupable values: even
    though every doc 'shares' the empty line (df = n_docs) and it repeats
    corpus-wide, neither the boilerplate stage nor keep-first dedup may
    touch it — otherwise every multi-paragraph web document loses its
    paragraph breaks."""
    footer = "All rights reserved by Example Corp"
    pages = pages_factory([
        ("u/1", ts(0), f"Para one.\n\nPara TWO.\n \n{footer}", "en"),
        ("u/2", ts(1), f"Body beta.\n\nMore beta.\n\n{footer}", "en"),
        ("u/3", ts(2), f"Gamma text.\n\nEnd gamma.\n{footer}", "en"),
    ])
    got = by_url(curate_pages(pages, boilerplate_min_df=3,
                              dedup_paragraphs=True, line_mode="newline"))
    # footer (df=3) dropped everywhere; blank lines all survive, including
    # the whitespace-only ' ' variant and repeats beyond the first
    assert got["u/1"]["text"] == "Para one.\n\nPara TWO.\n "
    assert got["u/2"]["text"] == "Body beta.\n\nMore beta.\n"
    assert got["u/3"]["text"] == "Gamma text.\n\nEnd gamma."


def test_auto_mode_picks_line_unit_per_doc(spark, pages_factory):
    """line_mode='auto': docs WITH '\\n' use real lines (lossless when
    untouched), newline-free docs fall back to 10-token pseudo-lines so
    they still participate in the line stages — 'newline' mode would
    silently exempt them (their single giant line is unique)."""
    shared = tail("dup")
    nl_text = "Real Line One.\nReal Line Two."
    pages = pages_factory([
        ("u/nl", ts(0), nl_text, "en"),
        ("u/c1", ts(1), f"{shared} {tail('a')}", "en"),   # newline-free
        ("u/c2", ts(2), f"{shared} {tail('b')}", "en"),   # newline-free
    ])
    got = by_url(curate_pages(pages, dedup_paragraphs=True,
                              line_mode="auto"))
    assert got["u/nl"]["text"] == nl_text            # lossless, real lines
    assert got["u/c1"]["text"] == f"{shared}\n{tail('a')}"
    assert got["u/c2"]["text"] == tail("b")          # lost its shared chunk


def test_bad_line_mode_raises(spark, pages_factory):
    pages = pages_factory([("u/a", ts(0), "x", "en")])
    with pytest.raises(ValueError, match="line_mode"):
        curate_pages(pages, dedup_paragraphs=True, line_mode="words")


@pytest.mark.slow
def test_cli_curate_newline_end_to_end(spark, pages_factory, tmp_path,
                                       capsys):
    """--mode curate with the (default) newline line mode over a
    newline-delimited corpus: real lines dropped, untouched docs lossless."""
    from pysparkdedup.cli import main

    footer = "Subscribe to our newsletter"
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    pages_factory([
        ("u/1", ts(0), f"Alpha Body One.\n{footer}", "en"),
        ("u/2", ts(1), f"Beta Body Two.\n{footer}", "en"),
        ("u/3", ts(2), f"Gamma jane@example.com Three.\n{footer}", "en"),
    ]).write.parquet(inp)
    rc = main([
        "--input", inp, "--mode", "curate", "--output", out,
        "--boilerplate-min-df", "3", "--redact-pii",
        "--master", "local[4]",
    ])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out)
    assert stats == {"DOCS_IN": 3, "DOCS_OUT": 3}
    got = by_url(spark.read.parquet(out))
    assert got["u/1"]["text"] == "Alpha Body One."
    assert got["u/3"]["text"] == "Gamma <EMAIL> Three."


@pytest.mark.slow
def test_cli_curate_end_to_end(spark, pages_factory, tmp_path, capsys):
    from pysparkdedup.cli import main

    shared = tail("dup")
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    pages_factory([
        ("u/1", ts(0), f"{shared} {tail('a')}", "en"),
        ("u/2", ts(1), f"{shared} mail jane@example.com now", "en"),
        ("u/spam", ts(2), "buy now " * 40, "en"),
    ]).write.parquet(inp)
    rc = main([
        "--input", inp, "--mode", "curate", "--output", out,
        "--max-dup-gram-frac", "0.5", "--dedup-paragraphs", "--redact-pii",
        "--line-mode", "chunk", "--master", "local[4]",
    ])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out)
    assert stats == {"DOCS_IN": 3, "DOCS_OUT": 2}
    got = by_url(spark.read.parquet(out))
    assert got["u/1"]["text"].startswith(shared)
    assert "<EMAIL>" in got["u/2"]["text"]
    assert not got["u/2"]["text"].startswith(shared)


def test_fused_composition_equals_sequential_stages(spark):
    """The fused line section (one exploded frame, one rebuild) must be
    output-identical to chaining the standalone ops — the equivalence
    argument in curate_pages' comments, pinned on a corpus that exercises
    every interaction: boilerplate inside and around duplicated
    paragraphs, intra-doc repeats of a duplicated line, docs that lose
    nothing, an empty doc, and a repetition-filtered spam doc."""
    from pysparkdedup.corpus import pages_and_truth
    from pysparkdedup.pii import redact_pii
    from pysparkdedup.repetition import (
        dedup_lines_keep_first, drop_boilerplate_lines, repetition_stats,
        with_chunk_lines)
    from pyspark.sql import functions as F

    pages, _ = pages_and_truth(spark, 400)

    got = by_url(curate_pages(
        pages, max_dup_gram_frac=0.3, boilerplate_min_df=3,
        dedup_paragraphs=True, redact=True, id_col="url"))

    # Reference: the pre-fusion sequential chain, stage by stage.
    reps = repetition_stats(pages, n=2, id_col="url", text_col="text")
    bad = reps.filter(F.col("dup_gram_frac") > 0.3).select("url")
    cur = pages.join(bad, "url", "left_anti")
    lines_df = with_chunk_lines(cur, 10, text_col="text").select(
        "url", "lines")
    b = drop_boilerplate_lines(lines_df, 3, id_col="url")
    lines_df = b.select("url", F.col("kept_lines").alias("lines"))
    p = dedup_lines_keep_first(lines_df, id_col="url")
    lines_df = p.select("url", F.col("kept_lines").alias("lines"))
    rebuilt = lines_df.select(
        "url", F.concat_ws("\n", "lines").alias("text"))
    want_df = redact_pii(
        cur.drop("text").join(rebuilt, "url"),
        text_col="text", out_col="text").select(*pages.columns)
    want = by_url(want_df)

    assert set(got) == set(want)
    assert got == want


def test_perfbench_curation_job_count(spark):
    """curate_pages with the perfbench train_pipeline setting runs 13 Spark
    jobs on a 1000-doc corpus. The boilerplate document frequency is
    counted from each document's distinct lines, so no exchange on
    (id, line) precedes the one on the line (the earlier distinct-then-count
    dim ran 15 jobs here)."""
    from pysparkdedup.cache import cache_scope
    from pysparkdedup.corpus import pages_and_truth
    from perfbench.workloads import CURATE

    pages, _ = pages_and_truth(spark, 1000)

    def run():
        with cache_scope():
            curate_pages(pages, **CURATE).write.format("noop").mode(
                "overwrite").save()

    _, jobs = jobs_of(spark, run)
    assert jobs == 13
