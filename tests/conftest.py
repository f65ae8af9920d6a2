"""Shared Spark fixture + tiny hand-built frames.

Session-scoped local Spark (one JVM for the whole suite). Tiny fixture frames
mirror the reference's fixture mails (ref tests/conftest.py:95-166,
tests/test_strategy.py:52-102): identical bodies with timestamp ladders, size
ladders via whitespace padding, undated rows, outliers.
"""

from __future__ import annotations

import datetime as dt
import os
from pathlib import Path

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import types as T

UTC = dt.timezone.utc
BASE = dt.datetime(2024, 1, 1, tzinfo=UTC)


def ts(minutes: int = 0) -> dt.datetime:
    return (BASE + dt.timedelta(minutes=minutes)).replace(tzinfo=None)


PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])


ROOT = str(Path(__file__).resolve().parent.parent)


@pytest.fixture(scope="session")
def spark():
    # The production worker daemon (session.get_spark installs the same one)
    # imports pysparkdedup, so the workers need the repository on their path.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    s = (
        SparkSession.builder.master("local[4]")
        .appName("pysparkdedup-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "6g")
        .config("spark.python.daemon.module", "pysparkdedup.worker_daemon")
        .getOrCreate()
    )
    yield s
    s.stop()


def jobs_of(spark, fn):
    """``fn()`` and the number of Spark jobs it started, counted through
    a job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def make_pages(spark, rows):
    """rows: list of (url, warc_ts|None, text, lang). html derived."""
    data = [
        (url, w, b"<html>" + (text or "").encode() + b"</html>", text, lang)
        for (url, w, text, lang) in rows
    ]
    return spark.createDataFrame(data, schema=PAGES_SCHEMA)


@pytest.fixture()
def pages_factory(spark):
    def factory(rows):
        return make_pages(spark, rows)

    return factory
