"""Text-analysis operator tests."""

from pyspark.sql import functions as F

from pysparkdedup.textstats import (
    detected_lang, quality_columns, subword_count, tokens_col,
    winnowing_fingerprints,
)
from tests.conftest import ts


def test_token_count(pages_factory):
    df = pages_factory([("u/a", ts(0), "one two  three\nfour", "en")])
    got = df.select(F.size(tokens_col()).alias("n")).collect()[0]["n"]
    assert got == 4


def test_subword_count_longer_for_long_words(pages_factory):
    df = pages_factory([
        ("u/a", ts(0), "short words here", "en"),
        ("u/b", ts(0), "antidisestablishmentarianism", "en"),
    ])
    rows = {r["url"]: r["n"] for r in df.select(
        "url", subword_count().alias("n")).collect()}
    assert rows["u/a"] == 5  # ceil(5/4)+ceil(5/4)+ceil(4/4) = 2+2+1
    assert rows["u/b"] == 7  # ceil(28/4)


def test_detected_lang(pages_factory):
    df = pages_factory([
        ("u/en", ts(0), "the cat and the dog of the house", "en"),
        ("u/fr", ts(0), "le chat et la maison des gens une fois", "fr"),
        ("u/und", ts(0), "zzz qqq xxx", "en"),
    ])
    got = {r["url"]: r["l"] for r in df.select(
        "url", detected_lang().alias("l")).collect()}
    assert got["u/en"] == "en"
    assert got["u/fr"] == "fr"
    assert got["u/und"] == "und"


def test_quality_columns(pages_factory):
    good = "the quick brown fox jumps over the lazy dog again and again today"
    bad = "!!! ??? ;;; ### 12345 67890 !!!"
    df = pages_factory([
        ("u/good", ts(0), good, "en"),
        ("u/bad", ts(0), bad, "en"),
    ])
    rows = {r["url"]: r for r in quality_columns(df).collect()}
    assert rows["u/good"]["quality_score"] > rows["u/bad"]["quality_score"]
    assert rows["u/good"]["n_tokens"] == 13
    assert 0.0 <= rows["u/bad"]["punct_ratio"] <= 1.0


def test_winnowing_fingerprints_stable_and_shared(pages_factory):
    text = "the quick brown fox jumps over the lazy dog " * 3
    df = pages_factory([
        ("u/a", ts(0), text, "en"),
        ("u/b", ts(0), text, "en"),
        ("u/c", ts(0), "completely different content here entirely", "en"),
    ])
    rows = {r["url"]: r["fingerprints"]
            for r in winnowing_fingerprints(df).collect()}
    assert rows["u/a"] == rows["u/b"]
    assert set(rows["u/a"]) != set(rows["u/c"])
    # identical texts share all fingerprints; overlapping-suffix docs share some
    assert len(rows["u/a"]) > 0


def test_vocab_topk_counts_and_rank(spark):
    from pysparkdedup.textstats import vocab_topk
    d = spark.createDataFrame(
        [(1, "b a b C c"), (2, "a B z"), (3, None)],
        "doc_id long, text string")
    rows = vocab_topk(d, k=3).collect()
    # counts: a=2 b=3 c=2 z=1; top-3 by (n desc, token asc) = b, a, c
    assert [(r["token"], r["n"], r["rank"]) for r in rows] == [
        ("b", 3, 1), ("a", 2, 2), ("c", 2, 3)]


def test_vocab_topk_min_count(spark):
    from pysparkdedup.textstats import vocab_topk
    d = spark.createDataFrame([(1, "x x y")], "doc_id long, text string")
    rows = vocab_topk(d, k=10, min_count=2).collect()
    assert [(r["token"], r["n"]) for r in rows] == [("x", 2)]


def test_vocab_topk_plan_is_take_ordered(spark):
    from pysparkdedup.textstats import vocab_topk
    d = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    df = vocab_topk(d, k=5)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    assert "TakeOrderedAndProject" in plan   # heap top-k, not a global sort


def test_gopher_rules_per_rule(spark):
    from pysparkdedup.textstats import gopher_rules
    good = ("the cat sat on the mat and all of that have been fine with "
            + " ".join(f"word{i}" for i in range(50)))
    rows = [
        (1, good),                                   # passes everything
        (2, "too short to have enough of the words"),  # < 50 tokens
        (3, "- one\n- two\n- three"),                # all bullet lines
        (4, "#" * 30 + " " + good),                  # symbol-heavy
        (5, " ".join("123456" for _ in range(60))),  # no alphabetic words
        (6, " ".join("x" * 15 for _ in range(60))),  # mean word len > 10
        (7, None),
    ]
    got = {r["doc_id"]: r.asDict() for r in gopher_rules(
        spark.createDataFrame(rows, "doc_id long, text string")).collect()}
    assert got[1]["gopher_pass"] is True
    assert got[2]["ok_token_count"] is False and not got[2]["gopher_pass"]
    assert got[3]["ok_bullets"] is False
    assert got[4]["ok_symbol_ratio"] is False
    assert got[5]["ok_alpha_words"] is False and got[5]["ok_stopwords"] is False
    assert got[6]["ok_mean_word_len"] is False
    assert got[7]["n_tokens"] == 0 and got[7]["gopher_pass"] is False


def test_gopher_rules_shuffle_free(spark):
    from pysparkdedup.textstats import gopher_rules
    d = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    df = gopher_rules(d)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    assert "Exchange" not in plan
