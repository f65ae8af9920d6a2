"""Strategy + cascade tests — Spark re-expression of the reference's strategy
matrix (ref tests/test_strategy.py:136-478)."""

import pytest
from pyspark.sql import functions as F

from pysparkdedup.config import DedupConfig
from pysparkdedup.pipeline import in_selection, run_exact
from pysparkdedup.strategy import resolve_strategies
from tests.conftest import ts


def surviving_urls(final):
    kept = final.filter(in_selection()).select("url").collect()
    return {r["url"] for r in kept}


# --- time ladder: identical text, timestamps 0/-1m/-2m/-3m ------------------
# (ref tests/test_strategy.py:52-56)
TIME_LADDER = [
    ("u/newest", ts(0), "same body text", "en"),
    ("u/newer", ts(-1), "same body text", "en"),
    ("u/older", ts(-2), "same body text", "en"),
    ("u/oldest", ts(-3), "same body text", "en"),
]


@pytest.mark.parametrize(
    ("strategy", "expected"),
    [
        ("select-oldest", {"u/oldest"}),
        ("select-newest", {"u/newest"}),
        # select-older keeps everything strictly older than the newest ts
        # (ref strategy.py:56-69); select-newer mirrors it.
        ("select-older", {"u/newer", "u/older", "u/oldest"}),
        ("select-newer", {"u/newest", "u/newer", "u/older"}),
        ("discard-older", {"u/newest"}),       # alias of select-newest
        ("discard-newer", {"u/oldest"}),       # alias of select-oldest
    ],
)
def test_time_strategies(pages_factory, strategy, expected):
    df = pages_factory(TIME_LADDER)
    cfg = DedupConfig(strategies=(strategy,))
    assert surviving_urls(run_exact(df, cfg)) == expected


# --- size ladder via whitespace padding: same normalized hash, raw sizes
# differ (ref tests/test_strategy.py:60-67) ----------------------------------
SIZE_LADDER = [
    ("u/smallest", ts(0), "body text", "en"),
    ("u/smaller", ts(0), "body text ", "en"),
    ("u/bigger", ts(0), "body text  ", "en"),
    ("u/biggest", ts(0), "body text   ", "en"),
]


@pytest.mark.parametrize(
    ("strategy", "expected"),
    [
        ("select-smallest", {"u/smallest"}),
        ("select-biggest", {"u/biggest"}),
        ("select-smaller", {"u/smallest", "u/smaller", "u/bigger"}),
        ("select-bigger", {"u/smaller", "u/bigger", "u/biggest"}),
        ("discard-smaller", {"u/biggest"}),
    ],
)
def test_size_strategies(pages_factory, strategy, expected):
    df = pages_factory(SIZE_LADDER)
    cfg = DedupConfig(strategies=(strategy,))
    assert surviving_urls(run_exact(df, cfg)) == expected


# --- path strategies ---------------------------------------------------------
def test_path_strategies(pages_factory):
    rows = [
        ("https://keep.example/a", ts(0), "same", "en"),
        ("https://drop.example/b", ts(1), "same", "en"),
    ]
    cfg = DedupConfig(strategies=("select-matching-path",), regexp="keep")
    assert surviving_urls(run_exact(pages_factory(rows), cfg)) == {
        "https://keep.example/a"
    }
    cfg = DedupConfig(strategies=("select-non-matching-path",), regexp="keep")
    assert surviving_urls(run_exact(pages_factory(rows), cfg)) == {
        "https://drop.example/b"
    }


def test_path_strategy_requires_regexp():
    with pytest.raises(ValueError, match="regexp"):
        resolve_strategies(("select-matching-path",), None)


# --- quantity strategies: deterministic by url -------------------------------
def test_select_one_deterministic(pages_factory):
    rows = [(f"u/{i}", ts(i), "same", "en") for i in range(4)]
    cfg = DedupConfig(strategies=("select-one",))
    assert surviving_urls(run_exact(pages_factory(rows), cfg)) == {"u/0"}
    cfg = DedupConfig(strategies=("select-all-but-one",))
    assert surviving_urls(run_exact(pages_factory(rows), cfg)) == {
        "u/1", "u/2", "u/3"
    }


# --- cascade fallback (ref tests/test_strategy.py:388-478) -------------------
def test_cascade_falls_back_when_all_selected(pages_factory):
    """Same timestamp => select-newest selects all => ineffective => next
    strategy wins (ref tests/test_strategy.py:455-478)."""
    rows = [
        ("u/a", ts(0), "same", "en"),
        ("u/b", ts(0), "same", "en"),
    ]
    cfg = DedupConfig(strategies=("select-newest", "select-one"))
    assert surviving_urls(run_exact(pages_factory(rows), cfg)) == {"u/a"}


def test_cascade_undated_falls_through(pages_factory):
    """Undated member => MissingTimestamps => time strategy inapplicable
    (ref tests/test_strategy.py:420-435)."""
    rows = [
        ("u/a", None, "same", "en"),
        ("u/b", ts(0), "same", "en"),
    ]
    cfg = DedupConfig(strategies=("select-newest", "select-one"))
    assert surviving_urls(run_exact(pages_factory(rows), cfg)) == {"u/a"}


def test_cascade_exhaustion_skips_set(pages_factory):
    """All strategies ineffective => set skipped, everything survives via
    skip (nothing selected/discarded) — ref deduplicate.py:500-501."""
    rows = [
        ("u/a", ts(0), "same", "en"),
        ("u/b", ts(0), "same", "en"),
    ]
    cfg = DedupConfig(strategies=("select-newest",))
    final = run_exact(pages_factory(rows), cfg)
    assert surviving_urls(final) == set()
    statuses = {r["url"]: r["status"] for r in final.select("url", "status").collect()}
    assert statuses == {"u/a": "skipped", "u/b": "skipped"}
    outcomes = {
        r["set_outcome"] for r in final.filter(F.col("set_rep")).collect()
    }
    assert outcomes == {"skipped_strategy"}


def test_cascade_skip_kind_from_last_strategy(pages_factory):
    """Undated set, last strategy time-based => skipped_timestamp
    (ref deduplicate.py:469-479)."""
    rows = [
        ("u/a", None, "same", "en"),
        ("u/b", None, "same", "en"),
    ]
    cfg = DedupConfig(strategies=("select-newest",))
    final = run_exact(pages_factory(rows), cfg)
    kinds = {r["set_outcome"] for r in final.filter(F.col("set_rep")).collect()}
    assert kinds == {"skipped_timestamp"}


def test_singletons_auto_selected(pages_factory):
    rows = [
        ("u/only", ts(0), "unique text one", "en"),
        ("u/solo", ts(0), "unique text two", "en"),
    ]
    cfg = DedupConfig(strategies=("select-newest",))
    final = run_exact(pages_factory(rows), cfg)
    statuses = {r["status"] for r in final.collect()}
    assert statuses == {"unique"}


def test_alias_dedup_by_function():
    # discard-older aliases select-newest: repeated entries collapse
    # (ref cli.py:155-166)
    assert resolve_strategies(
        ("select-newest", "discard-older", "select-one"), None
    ) == ["select-newest", "select-one"]
