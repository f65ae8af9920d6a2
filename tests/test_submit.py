"""Deployment paths, end-to-end: spark-submit --py-files, and a plain
script that finds the package through sys.path alone.

The north rule requires the pipeline to run via ``spark-submit --py-files``
on a cluster; this drives the exact artifact chain a cluster submit uses —
``tools/package_pyfiles.py`` zip + ``tools/submit_entry.py`` shim — through a
real spark-submit subprocess (local master standing in for the cluster one),
with the package importable ONLY from the zip (clean PYTHONPATH, scratch
cwd), and checks the run's output parquet.
"""

import os
import shutil
import subprocess
import sys
import textwrap

import pytest

from tests.conftest import ts

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.slow
def test_spark_submit_py_files_end_to_end(spark, pages_factory, tmp_path):
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")

    rows = [
        ("u/dup-old", ts(0), "pair text", "en"),
        ("u/dup-new", ts(1), "pair text", "en"),
        ("u/solo", ts(2), "solo text", "en"),
    ]
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    pages_factory(rows).write.parquet(inp)

    sys.path.insert(0, os.path.join(REPO, "tools"))
    try:
        from package_pyfiles import build
    finally:
        sys.path.pop(0)
    zip_path = build(str(tmp_path / "pysparkdedup.zip"))

    # Clean import environment: the package must travel via --py-files only.
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [
            spark_submit,
            "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            os.path.join(REPO, "tools", "submit_entry.py"),
            "--input", inp,
            "--strategy", "select-newest",
            "--action", "copy-selected",
            "--output", out,
        ],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = {r["url"] for r in spark.read.parquet(out).collect()}
    assert got == {"u/dup-new", "u/solo"}


def test_get_spark_workers_import_package_from_foreign_cwd(tmp_path):
    """A script that reaches the package only through sys.path.insert, run
    from another directory with no PYTHONPATH: the worker daemon module is
    in the package, so get_spark must put the package on the workers' path
    or the first Python task dies with "No module named 'pysparkdedup'"."""
    script = tmp_path / "one_job.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pysparkdedup.session import get_spark

        spark = get_spark(master="local[2]")
        df = spark.range(4).mapInPandas(lambda it: it, "id long")
        print("ROWS", df.count())
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, str(script)], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "ROWS 4" in proc.stdout
