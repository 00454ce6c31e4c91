"""Synthesize an sf1-scale test directory (10x sf0.1) by key-shifted
replication, for the scale sweep the driver's testdata doesn't ship.

Each replica i shifts every key family by i * (max_key + 1), applied
consistently across fact and dimension tables so join hit rates and
group cardinalities scale the way real data would (10x customers, 10x
orders per the same nation/region dims). Document text gets a
replica-specific suffix token so dedup statistics stay sf0.1-like
instead of collapsing into 10-way exact-duplicate clusters; embeddings
replicate as-is (ANN list sizes scale linearly either way).

Usage: python scripts/make_sf1.py [out_dir] [n_replicas]
       (defaults <repo>/.sf1, 10; n_replicas=100 builds an
       sf10-equivalent rung for scripts/sweep.py, e.g. .sf10)
"""

from __future__ import annotations

import sys
from pathlib import Path

from _common import REPO, session
from pyspark.sql import DataFrame, functions as F

SRC = "/root/testdata/sf0.1"
N_REPLICAS = 10

# table -> {column: key_family}; every column in a family shifts by the
# same stride so cross-table references stay aligned.
_SHIFTS: dict[str, dict[str, str]] = {
    "customer": {"c_custkey": "cust"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "order", "l_partkey": "part", "l_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "supplier": {"s_suppkey": "supp"},
    "events": {"event_id": "event", "user_id": "cust"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
}
_COPY_ONLY = ("region", "nation")  # dims stay single-copy


def _strides(spark) -> dict[str, int]:
    probe = {
        "cust": ("customer", "c_custkey"),
        "order": ("orders", "o_orderkey"),
        "part": ("part", "p_partkey"),
        "supp": ("supplier", "s_suppkey"),
        "event": ("events", "event_id"),
        "doc": ("documents", "doc_id"),
        "vec": ("embeddings", "vec_id"),
    }
    out = {}
    for fam, (tbl, col) in probe.items():
        out[fam] = (
            spark.read.parquet(f"{SRC}/{tbl}.parquet")
            .agg(F.max(col).cast("long"))
            .first()[0]
            + 1
        )
    return out


def _replicate(
    df: DataFrame,
    shifts: dict[str, str],
    strides: dict[str, int],
    n_replicas: int = N_REPLICAS,
) -> DataFrame:
    rep = df.withColumn("__r", F.explode(F.sequence(F.lit(0), F.lit(n_replicas - 1))))
    for col, fam in shifts.items():
        rep = rep.withColumn(col, F.col(col) + F.col("__r") * F.lit(strides[fam]))
    if "text" in df.columns:
        rep = rep.withColumn(
            "text",
            F.when(F.col("__r") == 0, F.col("text")).otherwise(
                F.concat(F.col("text"), F.lit(" r"), F.col("__r").cast("string"))
            ),
        )
    return rep.drop("__r")


def _compact(tmp_dir: Path, dest: Path) -> None:
    """Rewrite a Spark parquet directory as ONE file (the layout the
    DuckDB oracle harness and the driver's testdata use), then drop the
    directory."""
    import shutil

    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    table = ds.dataset(str(tmp_dir), format="parquet").to_table()
    pq.write_table(table, str(dest))
    shutil.rmtree(tmp_dir)


def main(out_dir: str, n_replicas: int = N_REPLICAS) -> None:
    spark = session("make_sf1")
    strides = _strides(spark)
    print("strides:", strides)
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    for tbl in _COPY_ONLY:
        tmp = out / f"__tmp_{tbl}"
        spark.read.parquet(f"{SRC}/{tbl}.parquet").write.mode("overwrite").parquet(
            str(tmp)
        )
        _compact(tmp, out / f"{tbl}.parquet")
    for tbl, shifts in _SHIFTS.items():
        df = spark.read.parquet(f"{SRC}/{tbl}.parquet")
        tmp = out / f"__tmp_{tbl}"
        n_files = max(8, n_replicas // 4)
        _replicate(df, shifts, strides, n_replicas).repartition(
            n_files
        ).write.mode("overwrite").parquet(str(tmp))
        _compact(tmp, out / f"{tbl}.parquet")
        print(tbl, "written")


if __name__ == "__main__":
    main(
        sys.argv[1] if len(sys.argv) > 1 else str(REPO / ".sf1"),
        int(sys.argv[2]) if len(sys.argv) > 2 else N_REPLICAS,
    )
