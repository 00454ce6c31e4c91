"""Physical-schema contract tests for the catalog table loader.

The driver's testdata has been regenerated with different parquet writers
across rounds (``events.ts`` flipped from TIMESTAMP(NANOS) int64 storage
to plain ``timestamp[us]`` between rounds 2 and 3, silently breaking every
events consumer). These tests pin the loader's contract: it must dispatch
on the type the scan actually produces, never on an assumption about
physical storage.
"""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_ml_pipeline_spark import session as session_mod
from etl_ml_pipeline_spark.queries import tables as tables_mod
from etl_ml_pipeline_spark.queries.tables import t

_EPOCH_US = 1_700_000_000_000_000  # 2023-11-14T22:13:20Z in microseconds


def _write_events(tmp_path, ts_array: pa.Array) -> str:
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3], type=pa.int64()),
            "user_id": pa.array([10, 10, 11], type=pa.int64()),
            "ts": ts_array,
        }
    )
    pq.write_table(table, str(tmp_path / "events.parquet"))
    return str(tmp_path)


@pytest.fixture()
def fresh_cache():
    """Isolate the module-level scan cache per test."""
    saved = dict(tables_mod._SCAN_CACHE)
    tables_mod._SCAN_CACHE.clear()
    yield
    tables_mod._SCAN_CACHE.clear()
    for k, v in saved.items():
        tables_mod._SCAN_CACHE[k] = v


def _expected_ts():
    base = datetime.datetime(2023, 11, 14, 22, 13, 20)
    return [base, base + datetime.timedelta(seconds=1), base + datetime.timedelta(seconds=2)]


def test_loader_handles_micros_timestamp(spark, tmp_path, fresh_cache):
    """Modern storage: parquet timestamp[us] must pass through untouched."""
    us = [_EPOCH_US, _EPOCH_US + 1_000_000, _EPOCH_US + 2_000_000]
    sf_dir = _write_events(tmp_path, pa.array(us, type=pa.timestamp("us")))
    df = t(spark, sf_dir, "events")
    assert df.schema["ts"].dataType.typeName() in ("timestamp", "timestamp_ntz")
    got = sorted(r["ts"].replace(tzinfo=None) for r in df.select("ts").collect())
    assert got == _expected_ts()


def test_loader_handles_nanos_int64(spark, tmp_path, fresh_cache):
    """Legacy storage: TIMESTAMP(NANOS) read as int64 via the nanosAsLong
    conf must be truncated ns->us with integer division and re-typed."""
    ns = [(_EPOCH_US + off) * 1000 + 999 for off in (0, 1_000_000, 2_000_000)]
    sf_dir = _write_events(tmp_path, pa.array(ns, type=pa.int64()))
    df = t(spark, sf_dir, "events")
    assert df.schema["ts"].dataType.typeName() in ("timestamp", "timestamp_ntz")
    got = sorted(r["ts"].replace(tzinfo=None) for r in df.select("ts").collect())
    assert got == _expected_ts()  # the +999 ns must truncate away, not round


def test_loader_rejects_unsupported_ts_type(spark, tmp_path, fresh_cache):
    sf_dir = _write_events(
        tmp_path, pa.array(["2023-01-01", "2023-01-02", "2023-01-03"], type=pa.string())
    )
    with pytest.raises(TypeError, match="unsupported physical type"):
        t(spark, sf_dir, "events")


def test_scan_cache_keyed_by_session_object(spark, tmp_path, fresh_cache):
    """The cache must be keyed by the live session object (not id()), and
    serve the same immutable plan for repeat reads."""
    us = [_EPOCH_US, _EPOCH_US + 1_000_000, _EPOCH_US + 2_000_000]
    sf_dir = _write_events(tmp_path, pa.array(us, type=pa.timestamp("us")))
    df1 = t(spark, sf_dir, "events")
    df2 = t(spark, sf_dir, "events")
    assert df1 is df2
    assert spark in tables_mod._SCAN_CACHE


def test_tuning_marker_is_session_scoped(spark):
    """Tuning state lives on the session as a conf, so a recycled object
    address can never skip tuning: clearing the marker re-tunes."""
    session_mod.tune(spark)
    assert spark.conf.get(session_mod._TUNED_MARKER) == "true"
    # Simulate a fresh session at the same address: unset the marker.
    spark.conf.unset(session_mod._TUNED_MARKER)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    session_mod.tune(spark)
    assert spark.conf.get(session_mod._TUNED_MARKER) == "true"
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"


def _write_documents(tmp_path, n_rows: int) -> str:
    """One-row-group documents parquet of ``n_rows`` incompressible texts."""
    import os

    table = pa.table(
        {
            "doc_id": pa.array(range(n_rows), type=pa.int64()),
            "text": pa.array([os.urandom(48).hex() for _ in range(n_rows)]),
        }
    )
    pq.write_table(table, str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def _plan_shape(df) -> str:
    """Physical plan text without expression or plan ids."""
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.sub(r"#\d+L?|plan_id=\d+", "", plan)


def test_max_partition_bytes_byte_strings_plan_alike(spark, tmp_path, fresh_cache):
    """``spark.sql.files.maxPartitionBytes`` reads back as it was set, so
    ``64m`` and ``67108864b`` must size a heavy scan the same way (the
    scan estimate used to int() the raw string and raise on ``64m``)."""
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    sf_dir = _write_documents(tmp_path, 4000)
    assert (tmp_path / "documents.parquet").stat().st_size > 64 * 1024
    plans = []
    try:
        for value in ("64m", "67108864b"):
            spark.conf.set(key, value)
            tables_mod._SCAN_CACHE.clear()
            plans.append(_plan_shape(t(spark, sf_dir, "documents", heavy=True)))
    finally:
        spark.conf.set(key, old)
    assert plans[0] == plans[1]
    assert "RoundRobinPartitioning" in plans[0]


def test_heavy_dup_corpus_follows_scan_rebalance_rule(spark, tmp_path, fresh_cache):
    """``_dup_corpus(heavy=True)`` spreads through the scan rebalance rule:
    a path whose size cannot be read (a ``file://`` URI) is treated as a
    big, already-wide scan, so no round-robin exchange is planned."""
    from etl_ml_pipeline_spark.queries.dedup_q import _dup_corpus

    sf_dir = _write_documents(tmp_path, 200)
    corpus = _dup_corpus(spark, "file://" + sf_dir, heavy=True)
    assert "RoundRobinPartitioning" not in _plan_shape(corpus)
    assert corpus.count() == 200 + len(range(0, 200, 7)) + len(range(0, 200, 11))


def test_heavy_dup_corpus_plans_one_round_robin(spark, tmp_path, fresh_cache):
    """Above the plain 512 KB-per-core floor both the scan rule and the
    heavy rule would fire; ``_dup_corpus(heavy=True)`` keeps the scan
    rule's exchange only, so exactly one round-robin exchange is planned
    (the exploded rows used to be re-spread by a second one)."""
    from etl_ml_pipeline_spark.queries.dedup_q import _dup_corpus

    n = 30_000
    sf_dir = _write_documents(tmp_path, n)
    floor = tables_mod._REBALANCE_MIN_BYTES_PER_CORE * spark.sparkContext.defaultParallelism
    assert (tmp_path / "documents.parquet").stat().st_size > floor
    corpus = _dup_corpus(spark, sf_dir, heavy=True)
    assert _plan_shape(corpus).count("RoundRobinPartitioning") == 1
    assert corpus.count() == n + len(range(0, n, 7)) + len(range(0, n, 11))


def test_heavy_dup_corpus_spreads_after_explode_below_plain_floor(
    spark, tmp_path, fresh_cache
):
    """Between the heavy and the plain floor only the heavy rule fires,
    and ``_dup_corpus(heavy=True)`` applies it to the exploded rows: one
    round-robin exchange, planned above the ``Generate``."""
    from etl_ml_pipeline_spark.queries.dedup_q import _dup_corpus

    n = 2_000
    sf_dir = _write_documents(tmp_path, n)
    cores = spark.sparkContext.defaultParallelism
    size = (tmp_path / "documents.parquet").stat().st_size
    assert tables_mod._HEAVY_MIN_BYTES_PER_CORE * cores <= size
    assert size < tables_mod._REBALANCE_MIN_BYTES_PER_CORE * cores
    corpus = _dup_corpus(spark, sf_dir, heavy=True)
    plan = _plan_shape(corpus)
    assert plan.count("RoundRobinPartitioning") == 1
    assert plan.index("RoundRobinPartitioning") < plan.index("Generate")
    assert corpus.count() == n + len(range(0, n, 7)) + len(range(0, n, 11))
