"""Shared generation machinery for persisted index tables.

Three indexes persist as gen-partitioned parquet (the benchmark gram
index, the perceptual-hash image index, and — with its own tombstone
variant — the IVF index). Building generation 0 and retiring a
generation are the same dance everywhere. Build: refuse an empty input
BEFORE touching storage (a partitioned write of zero rows replaces the
index with a directory that fails schema inference on the next read),
write, count from storage. Retire: validate the gen exists, refuse to
delete the LAST one (same unreadable-empty condition), count the
doomed rows, and drop the ``gen=K`` partition directory via the Hadoop
FS API — a partition-pruned delete, never a rewrite of the survivors.
One definition here so a fix to the guard rails or the FS error path
cannot silently miss a sibling index.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def build_generation0(
    rows: DataFrame,
    index_path: str,
    read: Callable[[SparkSession, str], DataFrame],
    label: str,
    probe: DataFrame | None = None,
) -> int:
    """(Re)build an index as generation 0 from ``rows`` (the index
    columns, no ``gen``), overwriting ``index_path``. ``read`` is the
    index's live scan; ``label`` names the caller in error messages.
    ``probe`` (default ``rows``) is the frame the empty-input guard
    tests: pass the narrow frame ``rows`` aggregates, which is empty
    exactly when ``rows`` is, so the guard's one-row limit stops early
    instead of running the aggregate's shuffle a second time.
    Returns the row count read back from storage (committed truth)."""
    if (rows if probe is None else probe).isEmpty():
        raise ValueError(
            f"{label}: empty input — an empty partitioned index cannot be "
            "read back, and overwriting would destroy the existing one; "
            "build from a non-empty input instead"
        )
    rows.withColumn("gen", F.lit(0).cast("int")).write.mode(
        "overwrite"
    ).partitionBy("gen").parquet(index_path)
    return read(rows.sparkSession, index_path).count()


def retire_generation(
    spark: SparkSession,
    index_path: str,
    gen: int,
    live: DataFrame,
    label: str,
) -> int:
    """Drop one generation of a gen-partitioned index. ``live`` is the
    index's current scan (must carry a ``gen`` column); ``label`` names
    the caller in error messages. Returns the number of rows dropped."""
    gens = {r["gen"] for r in live.select("gen").distinct().collect()}
    if gen not in gens:
        raise ValueError(
            f"{label}: gen {gen} not in index (have {sorted(gens)})"
        )
    if gens == {gen}:
        raise ValueError(
            f"{label}: refusing to retire the last remaining generation "
            "— an empty index cannot be read back; delete the index "
            "directory instead"
        )
    n = live.filter(F.col("gen") == gen).count()
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    part = jvm.org.apache.hadoop.fs.Path(
        index_path.rstrip("/") + f"/gen={gen}"
    )
    fs = part.getFileSystem(conf)
    if not fs.delete(part, True):
        raise IOError(f"{label}: delete {part} failed")
    return n


def generation_stats(live: DataFrame, count_col: str) -> DataFrame:
    """Per-generation row counts: (gen, <count_col>) — the ops view."""
    return (
        live.groupBy("gen")
        .agg(F.count("*").alias(count_col))
        .orderBy("gen")
    )
