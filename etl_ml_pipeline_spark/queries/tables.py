"""Table loading helpers for the query catalog."""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession

from etl_ml_pipeline_spark.session import tune

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Tables whose consumers do heavy per-row compute (JSON parsing, md5 /
# shingle hashing, vector math). For these a scan that can't split (one
# parquet row group) serializes the whole query on one core, so the
# rebalance shuffle pays for itself. Relational tables (lineitem/orders/
# ...) are NOT rebalanced: their queries are scan+join+agg, where an
# extra pre-join exchange only adds cost and fights AQE's own planning.
COMPUTE_HEAVY = {"events", "documents", "embeddings"}


_REBALANCE_MIN_BYTES_PER_CORE = 512 * 1024

# Opt-in threshold for queries that declare their per-row compute heavy
# (MinHash permutation hashing, SimHash bit aggregation, brute-force
# vector math): there even a ~20 KB/core sliver of input is worth
# spreading across the cluster — measured at sf0.1: simhash 1.85s ->
# 1.31s, brute-force ANN 0.92s -> 0.60s. Cheap-per-row queries (exact
# dedup, token stats) keep the conservative default: for them the extra
# exchange costs more than the parallelism recovers.
_HEAVY_MIN_BYTES_PER_CORE = 16 * 1024

# Per-session scan cache, keyed by the live session object itself
# (WeakKeyDictionary): a garbage-collected session drops its entry, so a
# recycled id() can never serve another session's cached plans.
_SCAN_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str, bool], DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def _estimated_scan_partitions(spark: SparkSession, input_bytes: int) -> int:
    """Partition count the parquet scan will get, from file metadata —
    NOT ``df.rdd.getNumPartitions()``, which forces a driver-side
    plan->RDD conversion per scan (measured driver overhead on every
    catalog query). Spark splits files into ~maxPartitionBytes chunks;
    a byte-based estimate is exact enough for the "is this scan
    ridiculously narrower than the cluster" decision. The conf reads back
    exactly as it was set (``134217728b``, ``64m``), so it is parsed with
    Spark's own byte-string rule.
    """
    conf = spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
    jvm = spark.sparkContext._jvm
    max_pb = jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(conf)
    return max(1, (input_bytes + max_pb - 1) // max_pb)


def _scan_bytes(sf_dir: str, name: str) -> int:
    """Bytes the scan rebalance sizes a table's parquet file by; a path
    that cannot be stat'ed (hdfs/s3) counts as big enough."""
    try:
        return os.path.getsize(f"{sf_dir}/{name}.parquet")
    except OSError:
        return 1 << 40


def _rebalance(
    spark: SparkSession,
    df: DataFrame,
    input_bytes: int,
    min_bytes_per_core: int = _REBALANCE_MIN_BYTES_PER_CORE,
) -> DataFrame:
    """Adaptive scan rebalance: if the source yields far fewer partitions
    than the cluster's parallelism (e.g. a handful of single-row-group
    parquet files), round-robin repartition so downstream compute uses
    every core. Catalyst still pushes filters/pruning beneath the
    exchange. At real scale (splittable multi-row-group inputs) the
    partition count is already >= parallelism and this is a no-op.

    Size guard: below ~0.5 MB of input per core the exchange + AQE
    replanning costs more wall time than the parallelism recovers
    (measured at sf0.1: a 0.6 MB documents scan ran 3× slower
    rebalanced), so tiny inputs stay unshuffled.
    """
    if _spreads(spark, input_bytes, min_bytes_per_core):
        return df.repartition(spark.sparkContext.defaultParallelism)
    return df


def _spreads(spark: SparkSession, input_bytes: int, min_bytes_per_core: int) -> bool:
    """Does :func:`_rebalance` round-robin a scan of ``input_bytes``?"""
    target = spark.sparkContext.defaultParallelism
    if input_bytes < target * min_bytes_per_core:
        return False
    return _estimated_scan_partitions(spark, input_bytes) < max(2, target // 2)


def spread_heavy(spark: SparkSession, df: DataFrame, sf_dir: str, name: str) -> DataFrame:
    """Fan ``df`` — rows derived from the plain ``t(spark, sf_dir, name)``
    scan, e.g. after an explode — out across all cores by the heavy rule,
    unless the plain scan rule already spread that scan: one round-robin
    exchange, never two back to back. Spreading after a row-multiplying
    step rather than on the scan (``t(..., heavy=True)``) was measured
    faster for the dup'd corpus (sf0.1, 4 cores, 5 alternating pairs:
    SimHash dedup 0.84 s vs 0.96 s)."""
    input_bytes = _scan_bytes(sf_dir, name)
    if name in COMPUTE_HEAVY and _spreads(spark, input_bytes, _REBALANCE_MIN_BYTES_PER_CORE):
        return df
    return _rebalance(spark, df, input_bytes, _HEAVY_MIN_BYTES_PER_CORE)


def t(spark: SparkSession, sf_dir: str, name: str, heavy: bool = False) -> DataFrame:
    """Lazy parquet scan for one test table (predicate/column pushdown intact).

    ``heavy=True`` marks the *consumer* as compute-bound per row (MinHash/
    SimHash hashing, dense vector math), lowering the rebalance size guard
    so even small scans fan out across all cores. At real scale the scan
    is already wide and both paths are no-ops.

    The ``events.ts`` column is normalized to a proper timestamp by
    dispatching on the type the scan actually produced — never on an
    assumption about physical storage (datasets get regenerated with
    different writers; a 100 TB lake mixes encodings across partitions):

    * ``TimestampType`` — already an instant: pass through untouched.
    * ``TimestampNTZType`` (parquet ``timestamp[us/ms]`` with
      isAdjustedToUTC=false) — re-tag as a UTC-session timestamp,
      preserving wall-clock values (session tz is pinned to UTC by
      session.tune).
    * ``LongType`` — legacy TIMESTAMP(NANOS) storage surfaced as int64 by
      the ``nanosAsLong`` conf: truncate to microseconds with *integer*
      division (matches DuckDB's ns->us cast; double division would lose
      precision on ~1.7e18 nanosecond epochs) and re-type.

    Scans are cached per (session, sf_dir, table, heavy): a DataFrame is
    an immutable logical plan, so reuse is safe, and it saves re-reading
    parquet footers + re-analysis on every one of the catalog's ~95
    queries. The cache is a WeakKeyDictionary keyed by the session object,
    so entries die with their session.
    """
    tune(spark)
    session_cache = _SCAN_CACHE.setdefault(spark, {})
    key = (sf_dir, name, heavy)
    cached = session_cache.get(key)
    if cached is not None:
        return cached

    min_bpc = _HEAVY_MIN_BYTES_PER_CORE if heavy else _REBALANCE_MIN_BYTES_PER_CORE
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = _normalize_events_ts(df)
    if name in COMPUTE_HEAVY:
        df = _rebalance(spark, df, _scan_bytes(sf_dir, name), min_bpc)
    session_cache[key] = df
    return df


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to a timestamp, dispatching on
    the type the parquet scan actually produced (see t() docstring)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.TimestampType):
        return df
    if isinstance(ts_type, T.TimestampNTZType):
        # Re-tag NTZ as a session-tz timestamp. With the session pinned to
        # UTC (see session.tune) this preserves wall-clock values exactly
        # while giving downstream operators the instant-typed column they
        # expect (NTZ rejects casts to double, unix_* helpers, etc.).
        return df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    if isinstance(ts_type, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    raise TypeError(
        f"events.ts has unsupported physical type {ts_type}; expected a "
        "parquet timestamp or legacy nanos-as-int64 storage"
    )


# An explicit broadcast hint is only ever SAFE for inputs that are small
# by construction. nation (25 rows) and region (5) qualify forever;
# supplier/customer/part scale WITH the dataset — at TPC-H sf100k
# (~100 TB) supplier is ~1e9 rows and a forced broadcast OOMs every
# executor. Threshold + measurement live in the layer-neutral
# etl_ml_pipeline_spark.sizing (operators share them; operators must
# not import from the queries layer); re-exported here under the
# historical names.
from etl_ml_pipeline_spark.sizing import (  # noqa: E402
    BROADCAST_MAX_BYTES as _BROADCAST_MAX_BYTES,
)
from etl_ml_pipeline_spark.sizing import path_bytes as _path_bytes  # noqa: E402


def _table_bytes(sf_dir: str, name: str) -> int | None:
    """On-disk bytes of a table's parquet; None when unknowable."""
    return _path_bytes(f"{sf_dir}/{name}.parquet")


def dim(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Dimension-side scan with a SIZE-GUARDED broadcast hint.

    Returns the ``t()`` scan wrapped in ``F.broadcast`` only while the
    table's on-disk size is under ``_BROADCAST_MAX_BYTES``; bigger (or
    unknown-size) tables come back unhinted so the optimizer picks a
    shuffle/broadcast strategy from real statistics. Queries say
    "this is my dimension side" exactly once and stay correct from
    sf0.001 to 100 TB.
    """
    from pyspark.sql import functions as F

    df = t(spark, sf_dir, name)
    nbytes = _table_bytes(sf_dir, name)
    if nbytes is not None and nbytes <= _BROADCAST_MAX_BYTES:
        return F.broadcast(df)
    return df


def maybe_broadcast(df: DataFrame, sf_dir: str, base_table: str) -> DataFrame:
    """Size-guarded broadcast hint for a frame DERIVED from ``base_table``
    (filter/projection — derivations that only shrink). The base table's
    on-disk size upper-bounds the frame, so hint exactly when the base
    itself would be hinted; past the bound the optimizer (AQE runtime
    sizes) decides. Aggregate-bounded frames (1-row totals, group-count-
    bounded rollups) don't need this — their size is bounded by
    construction, and a direct F.broadcast stays correct at any scale.
    """
    from pyspark.sql import functions as F

    nbytes = _table_bytes(sf_dir, base_table)
    if nbytes is not None and nbytes <= _BROADCAST_MAX_BYTES:
        return F.broadcast(df)
    return df
