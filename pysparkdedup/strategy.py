"""Selection strategies as per-group predicates + cascade fallback — pure
column algebra, one sharded aggregation pass, no UDF, no Window.

Re-expresses the reference's strategy registry (ref strategy.py:196-273) and
cascade semantics (ref deduplicate.py:456-509):

- each strategy is a boolean predicate comparing a row against its group's
  extremes (min/max timestamp/size, min participant url, match count);
- a strategy is *effective* on a group iff it selects neither none nor all of
  it (ref deduplicate.py:465-490) and its prerequisites hold — time strategies
  need every member dated, else the reference raises ``MissingTimestamps``
  (ref deduplicate.py:227-249) and the set falls through to the next strategy;
- the first effective strategy wins; exhaustion skips the whole set, counted
  as SET_SKIPPED_TIMESTAMP when the *last* strategy failed on timestamps, else
  SET_SKIPPED_STRATEGY (skip_stat reset per iteration, ref deduplicate.py:469-479);
- 1-member groups are auto-selected and never enter the cascade
  (ref deduplicate.py:419-424).

Skew note: the group extremes come from ``groupagg.with_group_stats`` (partial
hash aggregation + AQE-splittable join-back), NOT ``Window.partitionBy`` —
a boilerplate mega-cluster is sharded across tasks instead of sort-buffered
in one. The 0<selected<n effectiveness test never needs counts-at-extremes:
for every min/max strategy it reduces to ``group_min < group_max`` over
participants, for path strategies to ``0 < n_match < n``, and for
select-one / select-all-but-one to ``n > 1`` — so ONE aggregation pass
carries the whole cascade.

Deliberate divergence: ``select-one`` / ``select-all-but-one`` are random in
the reference and documented as non-reproducible across --jobs
(ref docs/performance.md:95-97). Here they key on the deterministic min
participant url so output is identical at any parallelism — required by the
N-vs-4N scaling equivalence check.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .config import DedupConfig
from .groupagg import with_group_stats

# Canonical strategy ids -> inverse aliases (ref strategy.py:214-244).
ALIASES = {
    "discard-newest": "select-older",
    "discard-newer": "select-oldest",
    "discard-oldest": "select-newer",
    "discard-older": "select-newest",
    "discard-biggest": "select-smaller",
    "discard-bigger": "select-smallest",
    "discard-smallest": "select-bigger",
    "discard-smaller": "select-biggest",
    "discard-non-matching-path": "select-matching-path",
    "discard-matching-path": "select-non-matching-path",
    "discard-all-but-one": "select-one",
    "discard-one": "select-all-but-one",
}

TIME_STRATEGIES = {"select-older", "select-oldest", "select-newer", "select-newest"}
PATH_STRATEGIES = {"select-matching-path", "select-non-matching-path"}
CANONICAL = TIME_STRATEGIES | PATH_STRATEGIES | {
    "select-smaller", "select-smallest", "select-bigger", "select-biggest",
    "select-one", "select-all-but-one",
}
ALL_STRATEGY_IDS = CANONICAL | set(ALIASES)


def resolve_strategies(names: tuple[str, ...] | list[str],
                       regexp: str | None) -> list[str]:
    """Normalize names, resolve aliases, dedup by underlying function keeping
    first occurrence (ref cli.py:155-166), validate regexp prereq
    (ref cli.py:531-541)."""
    out: list[str] = []
    for raw in names:
        name = raw.strip().lower().replace("_", "-")
        if name not in ALL_STRATEGY_IDS:
            raise ValueError(f"unknown strategy: {raw!r}")
        canonical = ALIASES.get(name, name)
        if canonical in PATH_STRATEGIES and not regexp:
            raise ValueError(f"strategy {raw!r} requires a regexp")
        if canonical not in out:
            out.append(canonical)
    return out


def _predicate(name: str, ts: Column, size: Column, url: Column,
               regexp: str | None, g: dict[str, Column]) -> Column:
    """The row-vs-group-extremes predicate for one canonical strategy
    (ref strategy.py:56-193). ``g`` holds the joined-back group aggregates,
    which range over *participating* rows only (``when(p, ...)`` inside the
    aggregation) — this is how evicted/skipped rows are excluded from min/max
    extremes without splitting the DataFrame (the reference reduces the pool
    in place, ref deduplicate.py:449-453)."""
    if name == "select-older":
        return ts < g["max_ts"]
    if name == "select-oldest":
        return ts == g["min_ts"]
    if name == "select-newer":
        return ts > g["min_ts"]
    if name == "select-newest":
        return ts == g["max_ts"]
    if name == "select-smaller":
        return size < g["max_size"]
    if name == "select-smallest":
        return size == g["min_size"]
    if name == "select-bigger":
        return size > g["min_size"]
    if name == "select-biggest":
        return size == g["max_size"]
    if name == "select-matching-path":
        return url.rlike(regexp)
    if name == "select-non-matching-path":
        return ~url.rlike(regexp)
    if name == "select-one":
        # Deterministic stand-in for the reference's random pick: the min
        # participant url (equals row_number==1 over participants-then-url).
        return url == g["min_url"]
    if name == "select-all-but-one":
        return url != g["min_url"]
    raise ValueError(name)


def _effective(name: str, g: dict[str, Column]) -> Column:
    """0 < selected < n for one strategy, without counting at extremes:
    a min/max predicate splits the pool iff the pool's min != max; a path
    predicate iff 0 < n_match < n; select-one / all-but-one iff n > 1."""
    if name in TIME_STRATEGIES:
        return g["min_ts"] < g["max_ts"]
    if name in ("select-smaller", "select-smallest",
                "select-bigger", "select-biggest"):
        return g["min_size"] < g["max_size"]
    if name in PATH_STRATEGIES:
        return (g["n_match"] > 0) & (g["n_match"] < g["n"])
    if name in ("select-one", "select-all-but-one"):
        return g["n"] > 1
    raise ValueError(name)


def apply_cascade(
    df: DataFrame,
    cfg: DedupConfig,
    key: str = "cluster_key",
    ts_col: str = "warc_ts",
    size_col: str = "n_bytes",
    url_col: str = "url",
    participates: Column | None = None,
) -> DataFrame:
    """Annotate each row with the cascade outcome.

    Adds columns:
      - ``selected``         bool (null when the whole set was skipped or the
                             row does not participate)
      - ``applied_strategy`` string ('single' for singletons, else the winning
                             strategy id, null when skipped)
      - ``set_skip_kind``    'timestamp' | 'strategy' | null

    ``participates`` gates which rows form the pool (evicted / guard-skipped /
    rejected rows are excluded by column algebra rather than by splitting the
    frame — keeps the plan linear, upstream computed once).

    One sharded aggregation pass (``with_group_stats``): the per-group
    extremes are computed by a partially-aggregated groupBy and joined back,
    so a mega-cluster never funnels through a single WindowExec task; the
    join-back is AQE-skew-splittable. Every strategy's predicate AND its
    effectiveness test read only those extremes (see module docstring).
    """
    strategies = resolve_strategies(cfg.strategies, cfg.regexp)
    p = participates if participates is not None else F.lit(True)

    ts, size, url = F.col(ts_col), F.col(size_col), F.col(url_col)
    pts, psize, purl = F.when(p, ts), F.when(p, size), F.when(p, url)
    aggs = [
        F.sum(p.cast("int")).alias("_cs_n"),
        F.sum((p & ts.isNotNull()).cast("int")).alias("_cs_n_dated"),
        F.min(pts).alias("_cs_min_ts"),
        F.max(pts).alias("_cs_max_ts"),
        F.min(psize).alias("_cs_min_size"),
        F.max(psize).alias("_cs_max_size"),
        F.min(purl).alias("_cs_min_url"),
    ]
    if any(s in PATH_STRATEGIES for s in strategies):
        aggs.append(
            F.sum((p & url.rlike(cfg.regexp)).cast("int")).alias("_cs_n_match"))
    else:
        aggs.append(F.lit(None).cast("long").alias("_cs_n_match"))
    joined = with_group_stats(df, key, aggs)
    g = {
        "n": F.col("_cs_n"),
        "n_dated": F.col("_cs_n_dated"),
        "min_ts": F.col("_cs_min_ts"),
        "max_ts": F.col("_cs_max_ts"),
        "min_size": F.col("_cs_min_size"),
        "max_size": F.col("_cs_max_size"),
        "min_url": F.col("_cs_min_url"),
        "n_match": F.col("_cs_n_match"),
    }
    n = g["n"]
    all_dated = g["n_dated"] == n

    preds: list[Column] = []
    effectives: list[Column] = []
    ts_failed: list[Column] = []  # strategy k failed due to MissingTimestamps
    for name in strategies:
        pred = p & _predicate(name, ts, size, url, cfg.regexp, g)
        eff_core = _effective(name, g)
        if name in TIME_STRATEGIES:
            # Undated member => MissingTimestamps => strategy inapplicable.
            pred_gated = F.when(all_dated, pred).otherwise(F.lit(False))
            ts_fail = ~all_dated
            effective = all_dated & eff_core
        else:
            pred_gated = pred
            ts_fail = F.lit(False)
            effective = eff_core
        preds.append(pred_gated)
        effectives.append(effective)
        ts_failed.append(ts_fail)

    # First effective strategy wins (ref deduplicate.py:465-490).
    selected = F.when(~p, F.lit(None).cast("boolean")).when(n == 1, F.lit(True))
    applied = F.when(~p, F.lit(None).cast("string")).when(n == 1, F.lit("single"))
    for name, pred, eff in zip(strategies, preds, effectives):
        selected = selected.when(eff, pred)
        applied = applied.when(eff, F.lit(name))
    any_effective = F.lit(False)
    for eff in effectives:
        any_effective = any_effective | eff
    # Exhausted cascade: skip kind from the LAST strategy's failure mode
    # (ref deduplicate.py:469-479 resets skip_stat each iteration).
    if strategies:
        last_ts_fail = ts_failed[-1]
        skip_kind = F.when(
            p & (n > 1) & ~any_effective,
            F.when(last_ts_fail, F.lit("timestamp")).otherwise(F.lit("strategy")),
        )
    else:
        # No strategy at all: every multi-row set is skipped
        # (ref deduplicate.py:457-458).
        skip_kind = F.when(p & (n > 1), F.lit("strategy"))

    return (
        joined.withColumn("selected", selected)
        .withColumn("applied_strategy", applied)
        .withColumn("set_skip_kind", skip_kind)
        .drop("_cs_n", "_cs_n_dated", "_cs_min_ts", "_cs_max_ts",
              "_cs_min_size", "_cs_max_size", "_cs_min_url", "_cs_n_match")
    )
