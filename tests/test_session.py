"""The session policy: one conf table, one sizing rule, and Python
workers that import the package from any working directory."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys

from etl_ml_pipeline_spark import session as session_mod

SHUFFLE = "spark.sql.shuffle.partitions"


def test_perfbench_conf_table_gains_only_the_worker_path():
    """perfbench passes an explicit master, partition count and confs:
    its session is the one it had before the policy moved, plus the
    workers' import path."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_run", session_mod.REPO / "perfbench" / "run.py"
    )
    run = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run)
    master, partitions, extra = run.spark_conf(4)
    table = session_mod.session_conf("perfbench", master, partitions, extra)
    assert table.pop("spark.executorEnv.PYTHONPATH") == str(session_mod.REPO)
    assert table == {
        "spark.app.name": "perfbench",
        "spark.master": "local[4]",
        SHUFFLE: "4",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        "spark.ui.enabled": "false",
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
    }


def test_default_sizing_is_nproc(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    nproc = len(os.sched_getaffinity(0))
    assert session_mod.cores() == nproc
    table = session_mod.session_conf()
    assert table["spark.master"] == f"local[{nproc}]"
    assert table[SHUFFLE] == str(nproc)
    assert table["spark.driver.memory"] == "8g"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "2g")
    table = session_mod.session_conf()
    assert (table["spark.master"], table[SHUFFLE], table["spark.driver.memory"]) == (
        "local[3]", "3", "2g"
    )


def test_tune_sizes_stock_partitions_to_cores(spark):
    """A session at Spark's stock 200 partitions gets one per core; an
    explicitly set count is left alone."""
    prev = spark.conf.get(SHUFFLE)
    try:
        for before, after in (("200", str(spark.sparkContext.defaultParallelism)),
                              ("8", "8")):
            spark.conf.set(SHUFFLE, before)
            spark.conf.unset(session_mod._TUNED_MARKER)
            session_mod.tune(spark)
            assert spark.conf.get(SHUFFLE) == after
    finally:
        spark.conf.set(SHUFFLE, prev)


def test_python_workers_import_the_package_from_any_cwd(tmp_path, sf_dir):
    """A session from get_spark() started outside the repo runs a query
    with Python UDFs (text_winnow_sketch)."""
    code = (
        f"import sys; sys.path.insert(0, {str(session_mod.REPO)!r})\n"
        "from etl_ml_pipeline_spark.queries import all_queries\n"
        "from etl_ml_pipeline_spark.session import get_spark\n"
        f"all_queries()['text_winnow_sketch'](get_spark(), {sf_dir!r}).toPandas()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run([sys.executable, "-c", code], cwd=tmp_path, env=env,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
