"""SparkSession factory with scale-appropriate defaults.

Single place that pins the configs the engine relies on:
- UTC session timezone (oracle comparability; Spark timestamps are session-TZ),
- AQE on (runtime shuffle coalescing + skew-join splitting — the built-in half
  of the skew story; the explicit half is salting in minhash.py),
- Arrow batches capped in rows for every Python kernel (``mapInArrow``;
  the Arrow flag also speeds ``toPandas`` / ``createDataFrame``),
- shuffle partitions sized to cores for local mode (caller overrides for
  cluster runs via spark-submit --conf).
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pysparkdedup",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # Under spark-submit the JVM already exists (PythonRunner execs this
    # process with PYSPARK_GATEWAY_PORT set) and spark.master / --conf flags
    # are in its conf. Stomping them with a local[] default would silently
    # turn a cluster submit into a single-box run — so when the caller didn't
    # ask for a specific master, defer to the submit conf entirely.
    submitted = master is None and "PYSPARK_GATEWAY_PORT" in os.environ
    if master is None and not submitted:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None and not submitted:
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            shuffle_partitions = os.cpu_count() if inner == "*" else int(inner)
        else:
            shuffle_partitions = 200

    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = (
        builder
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Keep AQE from coalescing mid-size shuffles below the core count:
        # with the 64MB default, a 100MB shuffle runs as 1-2 tasks and
        # serializes whole stages of the pipeline.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        # Let the planner pick shuffled-hash over sort-merge when its size
        # conditions hold, and let AQE rewrite SMJ->SHJ for post-shuffle
        # partitions under 64m (guide §3.1/§9): the engine's join spine is
        # groupBy + join-back on the same key over slim frames, where the
        # SMJ sorts are pure overhead. Build-side memory stays bounded by
        # the AQE threshold + skew splitting at any scale.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                os.environ.get("SPARK_GRAFT_SHJ_LOCAL_MAP", "64m"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        # Preloaded-fork daemon: workers inherit numpy/pyarrow/our kernels as
        # COW pages instead of re-importing per forked worker, and skip the
        # per-task re-read of pyspark.zip that CPython < 3.12 does on
        # importlib.invalidate_caches() (~250 ms of executor CPU per task;
        # see worker_daemon.py).
        .config("spark.python.daemon.module", "pysparkdedup.worker_daemon")
    )
    if not submitted:
        # The daemon module lives in this package, so the Python workers
        # must import it even when this process found the package through
        # sys.path alone (no PYTHONPATH, another working directory). PySpark
        # merges this entry into every worker's PYTHONPATH. Under
        # spark-submit, --py-files or the cluster image ship the package.
        builder = builder.config(
            "spark.executorEnv.PYTHONPATH",
            str(Path(__file__).resolve().parent.parent))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
