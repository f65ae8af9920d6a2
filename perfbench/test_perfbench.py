"""Tests of the benchmark's own code: the planted-truth scorer on hand-built
frames, and the status-store reader on a toy two-job run.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import pandas as pd
import pytest

from perfbench import score
from perfbench.status import (Span, Tracer, last_stage_id, layer_metrics,
                              read_window, untagged_run_ms)


def _truth(rows):
    return pd.DataFrame(rows, columns=["url", "true_cluster", "dup_kind"])


TRUTH = _truth([
    ("a1", 1, "exact"), ("a2", 1, "exact"), ("a3", 1, "exact"),
    ("b1", 2, "near_j09"), ("b2", 2, "near_j09"),
    ("c1", 3, "unique"),
    ("d1", 4, "near_j05"), ("d2", 4, "near_j05"),  # not a claimed kind
])


def test_pair_scores_known_recall_and_precision():
    assign = pd.DataFrame({
        "url": ["a1", "a2", "a3", "b1", "b2", "c1", "d1", "d2"],
        "cluster": ["x", "x", "y", "z", "z", "w", "w", "v"],
    })
    got = score.pair_scores(assign, TRUTH)
    # claimed planted pairs: a (3) + b (1); found: (a1, a2) and (b1, b2)
    assert got["planted_pairs"] == 4
    assert got["recall"] == pytest.approx(2 / 4)
    # output pairs: (a1, a2), (b1, b2), (c1, d1); the last is wrong
    assert got["output_pairs"] == 3
    assert got["precision"] == pytest.approx(2 / 3)


def test_pair_scores_counts_groups_not_enumerations():
    n = 3000  # one planted group of n docs holds n*(n-1)/2 pairs
    truth = _truth([(f"u{i}", 7, "boilerplate") for i in range(n)])
    assign = pd.DataFrame({"url": truth["url"], "cluster": "k"})
    got = score.pair_scores(assign, truth)
    assert got["planted_pairs"] == n * (n - 1) // 2
    assert got["recall"] == 1.0 and got["precision"] == 1.0


def test_pair_scores_only_counts_docs_the_output_kept():
    assign = pd.DataFrame({"url": ["a1", "a2"], "cluster": ["x", "x"]})
    got = score.pair_scores(assign, TRUTH)
    assert got["planted_pairs"] == 1 and got["recall"] == 1.0


def test_flag_scores_weights_each_flag_by_old_group_size():
    truth = _truth([
        ("o1", 1, "exact"), ("o2", 1, "exact"), ("n1", 1, "exact"),
        ("o3", 2, "near_j09"), ("n2", 2, "near_j09"),
        ("o4", 3, "malformed"), ("n3", 4, "malformed"),
        ("n4", 5, "unique"),
    ])
    flags = pd.DataFrame({
        "url": ["n1", "n2", "n3", "n4"],
        "status": ["exact_dup", "unique", "exact_dup", "unique"],
        "dup_of": ["o2", None, "o4", None],
    })
    got = score.flag_scores(flags, truth, pd.Series(["o1", "o2", "o3", "o4"]))
    # planted (new, old) pairs: n1 x {o1, o2} and n2 x {o3}
    assert got["planted_pairs"] == 3
    assert got["recall"] == pytest.approx(2 / 3)
    # n1's flag stands for 2 right pairs, n3's for 1 wrong pair
    assert got["output_pairs"] == 3
    assert got["precision"] == pytest.approx(2 / 3)


def test_ledger_problems():
    good = pd.DataFrame({
        "url": ["a", "b", "c"], "tier": ["kept", "exact", "kept"],
        "kept_by": ["a", "a", "c"]})
    assert score.ledger_problems(good, pd.Series(["a", "b", "c"])) == []
    bad = pd.DataFrame({
        "url": ["a", "b", "b"], "tier": ["kept", "exact", "near"],
        "kept_by": ["a", "z", "a"]})
    problems = score.ledger_problems(bad, pd.Series(["a", "b", "c"]))
    assert len(problems) == 3


def test_digest_ignores_row_order():
    df = pd.DataFrame({"u": ["a", "b", "c"], "v": [1, 2, None]})
    assert score.digest(df) == score.digest(df.iloc[::-1])
    assert score.digest(df) != score.digest(df.assign(v=[1, 2, 3]))


def test_self_time_subtracts_children():
    t = Tracer(sc=None, run_id="r", record_spans=True)
    t.spans = [Span("minhash", 0.0, 10.0), Span("pairs", 1.0, 4.0, parent=0),
               Span("components", 5.0, 6.0, parent=0), Span("stats", 10.0, 12.0)]
    got = t.wall_and_self()
    assert got["minhash"] == pytest.approx((10.0, 6.0))
    assert got["pairs"] == pytest.approx((3.0, 3.0))
    assert got["stats"] == pytest.approx((2.0, 2.0))


@pytest.fixture(scope="module")
def sc():
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[2]").appName("perfbench-test")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.driver.memory", "1g")
             .getOrCreate())
    yield spark.sparkContext
    spark.stop()


def test_status_reader_on_toy_two_job_run(sc):
    tracer = Tracer(sc, "toy", record_spans=True)
    lo = last_stage_id(sc)
    with tracer.layer("one"):
        sc.parallelize(range(1000), 2).map(lambda x: x * x).sum()
    with tracer.layer("two"):
        sc.parallelize(range(1000), 2).map(lambda x: x + 1).count()
    hi = last_stage_id(sc)
    sc.setJobGroup("after", "after")
    sc.parallelize(range(10), 2).count()  # after the window: not counted

    win = read_window(sc, lo, hi)
    got = layer_metrics(tracer, win, ["one", "two", "absent"])
    for name in ("one", "two"):
        assert got[name]["jobs"] == 1
        assert got[name]["tasks"] == 2
        assert got[name]["wall_s"] > 0
    assert got["absent"] == {k: 0 for k in got["absent"]}
    assert win.total.stages == 2 and win.total.tasks == 4
    # per-layer executor time sums exactly to the window total
    assert untagged_run_ms(tracer, win) == 0
    assert sum(win.by_group[tracer.tag(n)].run_ms for n in ("one", "two")) \
        == win.total.run_ms


def test_status_reader_sees_untagged_work(sc):
    tracer = Tracer(sc, "stray", record_spans=False)
    lo = last_stage_id(sc)
    sc.setJobGroup(tracer.run_id, tracer.run_id)  # outside every layer
    sc.parallelize(range(200000), 2).map(lambda x: x % 7).distinct().count()
    with tracer.layer("one"):
        sc.parallelize(range(10), 2).count()
    win = read_window(sc, lo, last_stage_id(sc))
    assert win.by_group[tracer.run_id].stages == 2
    assert untagged_run_ms(tracer, win) \
        == win.by_group[tracer.run_id].run_ms > 0
