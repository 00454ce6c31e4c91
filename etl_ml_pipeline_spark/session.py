"""The engine's one session policy: cores = ``$SPARK_GRAFT_CPUS`` or every
core this process may run on, shuffle partitions = cores, heap =
``$SPARK_DRIVER_MEMORY`` or 8g, and confs that run unchanged on a
multi-executor cluster: AQE on (runtime join-strategy/skew/coalesce
re-planning), UTC session timezone (oracle comparability), Arrow enabled
(fast pandas-interop for the few Pandas-UDF operators).
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

# Python workers import the package from here, whatever their cwd.
REPO = Path(__file__).resolve().parents[1]

# Runtime-settable, so tune() applies them to sessions built elsewhere.
_SQL_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}

_TUNED_MARKER = "spark.etl_ml_pipeline_spark.catalog.tuned"


def cores() -> int:
    """The core count a session built here runs on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def session_conf(
    app_name: str = "etl_ml_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """The conf table ``get_spark`` builds a session from."""
    n = cores()
    return {
        "spark.app.name": app_name,
        "spark.master": master or f"local[{n}]",
        "spark.sql.shuffle.partitions": str(shuffle_partitions or n),
        **_SQL_CONF,
        # Per-DataFrame-call Python stack inspection for error call-sites
        # costs ~0.3-1.5s of driver time per built plan (measured: 60% of
        # dedup-query build time; it even imports IPython). Pure
        # diagnostics — no effect on results or executor-side execution.
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "spark.executorEnv.PYTHONPATH": str(REPO),
        **(extra_conf or {}),
    }


def get_spark(
    app_name: str = "etl_ml_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build, or apply the confs to the running (e.g. spark-submit) session."""
    conf = session_conf(app_name, master, shuffle_partitions, extra_conf)
    spark = SparkSession.builder.config(map=conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune(spark: SparkSession) -> None:
    """Apply the runtime-settable confs, once, to a session built elsewhere
    (the correctness driver builds its own). The marker is a conf on the
    session, so a recycled object address never skips tuning. The
    debugging conf is static; PySpark's module-level cache of it
    (pyspark/errors/utils.py) is reset instead."""
    if spark.conf.get(_TUNED_MARKER, None) == "true":
        return
    spark.conf.set(_TUNED_MARKER, "true")
    for k, v in _SQL_CONF.items():
        spark.conf.set(k, v)
    import pyspark.errors.utils

    pyspark.errors.utils._enable_debugging_cache = False
    # Catalog-only: if an events parquet stores TIMESTAMP(NANOS) (which
    # Spark's reader rejects outright), read nanos as int64 instead;
    # tables.t() then dispatches on the *actual* scanned type.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Spark's stock 200 shuffle partitions are 200 tasks per exchange of
    # pure scheduling overhead on local[N]: size it to the session's
    # cores. An explicitly tuned value is left alone.
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        spark.conf.set("spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism))
