"""Planted-truth scoring and output checks. Runs after the clock stops, on
pandas frames, so it never adds work to a timed iteration.

Pair counts use group-size arithmetic: a group of n docs holds n*(n-1)/2
pairs, so the boilerplate mega-group (1% of the corpus) is one number, not
an enumeration of its pairs.
"""

from __future__ import annotations

import zlib

import pandas as pd

# Planted kinds the MinHash configuration claims to find: identical or
# whitespace-equal copies, and the near-dup kinds whose realized 5-word
# shingle Jaccard clears the 0.8 verify threshold. near_j08 is named for a
# token edit rate, and its realized shingle Jaccard sits near 0.6, so it is
# not claimed (the same set as the repository's recall tests).
CLAIMED_KINDS = (
    "boilerplate", "exact", "whitespace", "time_ladder", "undated",
    "same_ts", "near_j095", "near_j09",
)

RECALL_FLOOR = 0.99


def _pairs(sizes: pd.Series) -> int:
    return int((sizes * (sizes - 1) // 2).sum())


def pair_scores(assign: pd.DataFrame, truth: pd.DataFrame,
                claimed=CLAIMED_KINDS) -> dict[str, float]:
    """Recall and precision of a clustering against the planted groups.

    ``assign`` is (url, cluster); ``truth`` is (url, true_cluster,
    dup_kind). Only urls present in ``assign`` count, so a stage that drops
    docs before clustering is scored on the docs it kept.

    - recall: co-clustered pairs inside one claimed planted group over all
      pairs of claimed planted groups;
    - precision: co-clustered pairs inside one planted group (any kind)
      over all co-clustered pairs.
    """
    df = truth.merge(assign[["url", "cluster"]], on="url", how="inner")
    out_pairs = _pairs(df.groupby("cluster").size())
    right = _pairs(df.groupby(["cluster", "true_cluster"]).size())
    mine = df[df["dup_kind"].isin(claimed)]
    planted = _pairs(mine.groupby("true_cluster").size())
    found = _pairs(mine.groupby(["cluster", "true_cluster"]).size())
    return {
        "recall": found / planted if planted else 1.0,
        "precision": right / out_pairs if out_pairs else 1.0,
        "planted_pairs": planted,
        "output_pairs": out_pairs,
    }


def flag_scores(flags: pd.DataFrame, truth: pd.DataFrame,
                old_urls: pd.Series,
                claimed=CLAIMED_KINDS) -> dict[str, float]:
    """Recall and precision of cross-corpus flags (url, status, dup_of).

    A flag puts the new doc into the planted group of its ``dup_of``, so it
    stands for one (new, old) pair per old member of that group. Planted
    pairs are (new, old) pairs inside one claimed planted group; a flag's
    pairs are right when ``dup_of`` is in the new doc's own group."""
    tc = truth.set_index("url")["true_cluster"]
    old_size = truth[truth["url"].isin(old_urls)].groupby("true_cluster").size()
    new = flags.merge(truth, on="url", how="inner")
    own = new["true_cluster"].map(old_size).fillna(0)
    flagged = new["status"] != "unique"
    dup_group = new["dup_of"].map(tc)
    right = flagged & (dup_group == new["true_cluster"])
    planted = int(own[new["dup_kind"].isin(claimed)].sum())
    found = int(own[right & new["dup_kind"].isin(claimed)].sum())
    out_pairs = int(dup_group[flagged].map(old_size).fillna(0).sum())
    right_pairs = int(own[right].sum())
    return {
        "recall": found / planted if planted else 1.0,
        "precision": right_pairs / out_pairs if out_pairs else 1.0,
        "planted_pairs": planted,
        "output_pairs": out_pairs,
    }


def ledger_problems(ledger: pd.DataFrame, curated_urls: pd.Series) -> list[str]:
    """Violations of the tier ledger contract: one row per curated doc, and
    every ``kept_by`` is the url of a ``kept`` row."""
    problems = []
    if ledger["url"].duplicated().any():
        problems.append("ledger has duplicate urls")
    if set(ledger["url"]) != set(curated_urls):
        problems.append(
            f"ledger covers {ledger['url'].nunique()} urls, "
            f"curated corpus has {len(set(curated_urls))}")
    kept = ledger["tier"] == "kept"
    if not ledger["kept_by"].isin(set(ledger.loc[kept, "url"])).all():
        problems.append("a kept_by is not a kept url")
    if not (ledger.loc[kept, "kept_by"] == ledger.loc[kept, "url"]).all():
        problems.append("a kept row points elsewhere")
    return problems


def digest(df: pd.DataFrame) -> tuple[int, int]:
    """(row count, sum of per-row crc32) — order-independent, so two runs
    that wrote the same rows in different files or orders agree."""
    crc = 0
    for row in df.itertuples(index=False, name=None):
        crc += zlib.crc32("\x1f".join(map(str, row)).encode())
    return len(df), crc
