"""Action sink tests (ref tests/test_action.py:82-269)."""

import pytest

from pysparkdedup.actions import ACTIONS, _subset, perform, pointer_dedup
from pysparkdedup.config import DedupConfig
from pysparkdedup.pipeline import run_clustered, run_exact
from tests.conftest import jobs_of, ts


@pytest.fixture()
def final(pages_factory):
    rows = [
        ("u/dup-old", ts(0), "pair text", "en"),
        ("u/dup-new", ts(1), "pair text", "en"),
        ("u/solo", ts(0), "solo text", "en"),
    ]
    cfg = DedupConfig(strategies=("select-newest",))
    return run_exact(pages_factory(rows), cfg)


def test_copy_selected(final, tmp_path):
    out = str(tmp_path / "out")
    res = perform(final, "copy-selected", out)
    assert res == {"action": "copy-selected", "count": 2, "written": True}
    got = {r["url"] for r in final.sparkSession.read.parquet(out).collect()}
    assert got == {"u/dup-new", "u/solo"}


def test_delete_discarded(final, tmp_path):
    out = str(tmp_path / "out")
    res = perform(final, "delete-discarded", out)
    assert res["count"] == 1
    got = {r["url"] for r in final.sparkSession.read.parquet(out).collect()}
    assert got == {"u/dup-new", "u/solo"}


def test_dry_run_writes_nothing(final, tmp_path):
    out = str(tmp_path / "none")
    res = perform(final, "copy-selected", out, dry_run=True)
    assert res["written"] is False
    assert not (tmp_path / "none").exists()


def test_pointer_dedup(final):
    rows = {r["url"]: r for r in pointer_dedup(final).collect()}
    assert rows["u/dup-old"]["kept_url"] == "u/dup-new"
    assert rows["u/dup-new"]["is_canonical"]
    assert rows["u/solo"]["is_canonical"]


def test_unknown_action(final):
    with pytest.raises(ValueError, match="unknown action"):
        perform(final, "explode-everything")


def test_perform_executes_tail_once(final):
    """act+report is ONE execution of the pipeline tail (ref VERDICT r1 #3):
    perform's write is its one job and the count is observed on it — a
    per-row counter downstream of the pipeline must tick exactly n times."""
    import pandas as pd

    spark = final.sparkSession
    acc = spark.sparkContext.accumulator(0)

    def tick(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    counted = final.mapInPandas(tick, schema=final.schema)
    res = perform(counted, "copy-selected",
                  str(_tmp_dir()), pages=None)
    n_rows = final.count()
    assert res["count"] == 2
    assert acc.value == n_rows, (
        f"tail executed {acc.value / n_rows:.1f}x, expected once")


def _tmp_dir():
    import tempfile

    return tempfile.mkdtemp(prefix="pysparkdedup-act-")


@pytest.mark.parametrize("fmt", ["json", "csv"])
def test_export_formats(final, tmp_path, fmt):
    """Multi-format export (ref mail_box.py:490-511 box formats)."""
    out = str(tmp_path / f"out-{fmt}")
    res = perform(final, "copy-selected", out, fmt=fmt)
    assert res["written"] is True
    assert res["count"] == _subset(final, "copy-selected").count()
    reader = final.sparkSession.read.option("header", True)
    got = getattr(reader, fmt)(out)
    assert got.count() == 2
    assert "url" in got.columns


def test_export_append(final, tmp_path):
    """--export-append analog (ref cli.py:501): second write appends."""
    out = str(tmp_path / "out")
    perform(final, "copy-selected", out)
    res = perform(final, "copy-selected", out, append=True)
    assert res["written"] is True
    got = final.sparkSession.read.parquet(out)
    assert got.count() == 4


def test_export_table_roundtrip(final, spark):
    """Catalog-table sink/source (the Iceberg path wherever an Iceberg
    catalog is configured; the builtin catalog locally): copy-selected ->
    writeTo(identifier), read back via read_pages(fmt="table"), append
    commits a second snapshot."""
    from pysparkdedup.sources import read_pages

    tbl = "pysparkdedup_export_rt"
    try:
        want = _subset(final, "copy-selected").count()
        res = perform(final, "copy-selected", tbl, fmt="table")
        assert res["written"] is True
        assert res["count"] == want
        got = read_pages(spark, tbl, fmt="table")
        assert got.count() == 2
        assert set(got.columns) == {"url", "warc_ts", "html", "text", "lang"}
        res = perform(final, "copy-selected", tbl, fmt="table", append=True)
        assert res["count"] == want
        assert spark.read.table(tbl).count() == 4
        # non-append overwrites: back to one snapshot's worth of rows
        perform(final, "copy-selected", tbl, fmt="table")
        assert spark.read.table(tbl).count() == 2
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_export_unknown_format(final, tmp_path):
    with pytest.raises(ValueError, match="unknown export format"):
        perform(final, "copy-selected", str(tmp_path / "x"), fmt="mbox")


def test_pointer_dedup_blocks_differing_bytes(spark):
    """Reference parity (--hardlink-differing, ref action.py:156-192): a
    duplicate whose bytes differ from the kept copy is NOT pointered unless
    explicitly allowed; it keeps its own url and is flagged."""
    rows = [
        ("u/kept", "selected", "c1", "h-same"),
        ("u/same", "discarded", "c1", "h-same"),
        ("u/diff", "discarded", "c1", "h-other"),
    ]
    fake_final = spark.createDataFrame(
        rows, "url string, status string, cluster_key string, raw_hash string")
    strict = {r["url"]: r for r in pointer_dedup(fake_final).collect()}
    assert strict["u/same"]["kept_url"] == "u/kept"
    assert strict["u/diff"]["kept_url"] == "u/diff"  # left as-is
    assert strict["u/diff"]["blocked_differing"]
    assert not strict["u/same"]["blocked_differing"]
    # a blocked self-pointing duplicate is NOT canonical (advice r2):
    # filtering is_canonical yields exactly one kept copy per set
    assert not strict["u/diff"]["is_canonical"]
    assert strict["u/kept"]["is_canonical"]
    assert sum(r["is_canonical"] for r in strict.values()) == 1
    loose = {r["url"]: r for r in
             pointer_dedup(fake_final, allow_differing=True).collect()}
    assert loose["u/diff"]["kept_url"] == "u/kept"
    assert not loose["u/diff"]["blocked_differing"]
    assert not loose["u/diff"]["is_canonical"]


def test_move_discarded_end_to_end(final, tmp_path, spark):
    """move = copy + rewritten source in ONE verb (verdict r2 #5, ref
    move_mails action.py:94-117): the moved rows land at out_path, the
    source rewrite at source_out_path holds everything else, and the two
    partition the input (MAIL_MOVED accounting identity)."""
    out = str(tmp_path / "moved")
    src_out = str(tmp_path / "rewritten")
    res = perform(final, "move-discarded", out, source_out_path=src_out)
    moved = {r["url"] for r in spark.read.parquet(out).collect()}
    kept = {r["url"] for r in spark.read.parquet(src_out).collect()}
    everything = {r["url"] for r in final.select("url").collect()}
    assert moved == {"u/dup-old"}
    assert res["count"] == len(moved) == 1
    assert moved | kept == everything and not (moved & kept)

    # MAIL_MOVED identity holds through check_stats
    from pysparkdedup.stats import Stat, check_stats, compute_stats

    stats = compute_stats(final)
    stats[Stat.MAIL_MOVED] = res["count"]
    check_stats(stats, action="move-discarded")  # raises on mismatch


def test_move_requires_source_out(final, tmp_path):
    with pytest.raises(ValueError, match="source_out_path"):
        perform(final, "move-selected", str(tmp_path / "x"))
    # dry-run computes counts without requiring any paths
    res = perform(final, "move-selected", dry_run=True)
    assert res["written"] is False


def test_every_verb_counts_its_subset(final, tmp_path):
    """The count a verb reports is observed on its write job; it must
    equal the subset the verb acts on, for every verb and for a dry run
    (ref deduplicate.py:1369-1390 accounting identities)."""
    for action in ACTIONS:
        res = perform(final, action, str(tmp_path / action),
                      source_out_path=str(tmp_path / f"{action}-source"))
        assert res["count"] == _subset(final, action).count(), action
    res = perform(final, "copy-discarded", dry_run=True)
    assert res == {"action": "copy-discarded", "written": False,
                   "count": _subset(final, "copy-discarded").count()}


UNIQUE_ROWS = [("u/a", ts(0), "alpha text", "en"),
               ("u/b", ts(1), "beta text", "en")]


@pytest.mark.parametrize("fmt,rows", [
    ("parquet", UNIQUE_ROWS), ("table", UNIQUE_ROWS), ("parquet", []),
], ids=["unique-parquet", "unique-table", "empty-parquet"])
def test_discarded_verbs_on_all_unique_corpus(spark, pages_factory,
                                              tmp_path, fmt, rows):
    """An empty subset — of an all-unique corpus, or of an empty one —
    counts 0 and writes without error. Broadcast joins are off, so
    re-hydration is the sort-merge join of a large corpus, and AQE drops a
    join side it finds empty: a count observed under one would be lost
    with it."""
    pages = pages_factory(rows)
    final = run_exact(pages, DedupConfig(strategies=("select-newest",)))
    verbs = [a for a in ACTIONS if a.endswith("-discarded")]

    def sink(action: str, role: str) -> str:
        key = f"{action}_{role}".replace("-", "_")
        return (f"pysparkdedup_{key}" if fmt == "table"
                else str(tmp_path / key))

    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for action in verbs:
            res = perform(final, action, sink(action, "out"), pages=pages,
                          fmt=fmt, source_out_path=sink(action, "source"))
            assert res == {"action": action, "count": 0, "written": True}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        if fmt == "table":
            for action in verbs:
                for role in ("out", "source"):
                    spark.sql(f"DROP TABLE IF EXISTS {sink(action, role)}")


def _plans_of_group(spark, group: str) -> list[str]:
    """Physical plans of the SQL executions whose jobs ran in ``group``."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    ids = set(sc.statusTracker().getJobIdsForGroup(group))
    plans = []
    it = (spark._jsparkSession.sharedState().statusStore()
          .executionsList().iterator())
    while it.hasNext():
        e = it.next()
        jobs = {int(j) for j in e.jobs().keySet().mkString(",").split(",")
                if j}
        if jobs & ids:
            plans.append(e.physicalPlanDescription())
    return plans


def test_pipeline_tail_runs_once_per_verb(spark, pages_factory, tmp_path,
                                          monkeypatch):
    """The pipelines hand back a lazily persisted `final`: building it
    starts no job, the report fills the cache, the action's only job is its
    write (the count is observed on it), and the cache is released when
    its scope exits."""
    import pysparkdedup.cache as cache
    from pysparkdedup.stats import compute_stats

    captured = []
    real_track = cache.track

    def spy(df):
        captured.append(df)
        return real_track(df)

    monkeypatch.setattr(cache, "track", spy)
    pages = pages_factory([
        ("u/dup-old", ts(0), "pair text", "en"),
        ("u/dup-new", ts(1), "pair text", "en"),
        ("u/solo", ts(0), "solo text", "en"),
    ])
    clusters = spark.createDataFrame(
        [("u/dup-old", "k"), ("u/dup-new", "k")],
        "url string, cluster_key string")
    cfg = DedupConfig(strategies=("select-newest",))
    sc = spark.sparkContext
    try:
        with cache.cache_scope():
            finals, build_jobs = jobs_of(spark, lambda: [
                run_exact(pages, cfg), run_clustered(pages, cfg, clusters)])
            assert build_jobs == 0
            for f in finals:
                assert f.storageLevel.useMemory or f.storageLevel.useDisk
                assert any(df is f for df in captured)
            compute_stats(finals[0])
            sc.setJobGroup("tail-act", "tail-act")
            res = perform(finals[0], "copy-selected", str(tmp_path / "out"))
            assert res["count"] == 2
            plans = _plans_of_group(spark, "tail-act")
            assert len(plans) == 1, plans
            assert "InsertIntoHadoopFsRelationCommand" in plans[0], plans[0]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    for f in finals:
        assert not (f.storageLevel.useMemory or f.storageLevel.useDisk), (
            "the pipeline's final frame survived its cache_scope")
