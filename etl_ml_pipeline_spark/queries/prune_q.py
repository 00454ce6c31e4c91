"""Bloom-filter join-pruning catalog queries.

Like the salted-skew queries (skew_q.py), these are 100 TB plan rewrites
made oracle-checkable: a Bloom pre-filter on the fact side must be
RESULT-IDENTICAL to the plain join — false positives survive the filter
but die in the exact join; members are never dropped — so the DuckDB
oracle is simply the plain join SQL, and a green row proves the rewrite
preserves semantics end to end. Plan shape (map-side filter before the
fact shuffle, no Python eval, single join) is guarded in
tests/test_plans.py.

Scale: at 100 TB the win is shuffle volume — only (join selectivity +
~0.8% fpp) of fact rows leave the scan stage. The filter costs
ndv*10/8 bytes broadcast in the plan (1.2 MB per million dim keys),
covering the regime where the dim is too big for an exact isin/broadcast
but its Bloom is cheap. Spark's own runtime row-level filtering
(spark.sql.optimizer.runtime.bloomFilter.enabled) injects the same
rewrite when stats allow; the operator makes it explicit and
deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_ml_pipeline_spark.operators.bloom import bloom_prune_join
from etl_ml_pipeline_spark.queries.tables import t


def bloom_prune_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per part size for one brand, with the lineitem side
    Bloom-pruned by the filtered part keys before the join shuffle.

    Brand#23 selects ~1/25 of parts, so ~96% of lineitem rows are
    dropped map-side; the exact join then removes the ~0.8% false
    positives. Result is identical to the plain join (the oracle)."""
    dim = (
        t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#23")
        .select("p_partkey", "p_size")
    )
    fact = t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"), "l_extendedprice", "l_discount"
    )
    joined = bloom_prune_join(fact, dim, "p_partkey")
    return (
        joined.groupBy("p_size")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            ),
        )
        .orderBy("p_size")
    )


_BLOOM_BRAND_SQL = """
SELECT p_size,
       CAST(count(*) AS BIGINT) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#23'
GROUP BY p_size
ORDER BY p_size
"""


# ---------------------------------------------------------------------------
# layout_zorder_prune_stats — quantifies what Z-ordering buys at the
# file level: the same orders rows are split into 16 equal "files"
# under (a) a linear (custkey, day) sort and (b) the Morton key from
# operators/layout.with_zorder_key, each file keeps min/max stats per
# dimension (exactly what parquet row-group footers store), and four
# probe boxes count how many files each layout must read. The expected
# picture: linear wins narrowly on its PRIMARY column band, reads
# EVERYTHING for a secondary-column band; z-order reads a fraction for
# both — the multi-dimensional data-skipping argument for 100 TB scans.
#
# ntile() assigns files here (not the production write path —
# zorder_layout uses repartitionByRange, plan-tested separately)
# because the oracle needs a bit-identical file split in both engines;
# it is the only global window in the query and runs over row-count
# = |orders| once. Probe bounds are pure integer percent arithmetic on
# the global min/max, and the z-key's normalize-and-interleave is the
# SAME expression tree on both engines, so every file boundary and
# overlap test matches exactly.
# ---------------------------------------------------------------------------

_ZB = 16  # z-key bits per column (with_zorder_key default)
_NFILES = 16


def layout_zorder_prune_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from etl_ml_pipeline_spark.operators.layout import with_zorder_key

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("ck"),
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date")
        ).cast("long").alias("dy"),
    )
    z = with_zorder_key(o, ["ck", "dy"], out_col="z", bits=_ZB)
    lin = z.withColumn(
        "file_id", F.ntile(_NFILES).over(W.orderBy("ck", "dy", "o_orderkey"))
    ).withColumn("layout", F.lit("linear"))
    zo = z.withColumn(
        "file_id", F.ntile(_NFILES).over(W.orderBy("z", "o_orderkey"))
    ).withColumn("layout", F.lit("zorder"))
    files = (
        lin.unionByName(zo)
        .groupBy("layout", "file_id")
        .agg(
            F.min("ck").alias("min_ck"),
            F.max("ck").alias("max_ck"),
            F.min("dy").alias("min_dy"),
            F.max("dy").alias("max_dy"),
            F.count("*").alias("n"),
        )
    )
    stats = o.agg(
        F.min("ck").alias("ckmin"),
        F.max("ck").alias("ckmax"),
        F.min("dy").alias("dymin"),
        F.max("dy").alias("dymax"),
    )

    def pct(vmin: str, vmax: str, p: int):
        return F.expr(f"{vmin} + ({vmax} - {vmin}) * {p} div 100")

    def box(name: str, ck_lo, ck_hi, dy_lo, dy_hi):
        return F.struct(
            F.lit(name).alias("probe"),
            ck_lo.alias("lo_ck"),
            ck_hi.alias("hi_ck"),
            dy_lo.alias("lo_dy"),
            dy_hi.alias("hi_dy"),
        )

    probes = stats.select(
        F.explode(
            F.array(
                box(
                    "ck_band",
                    pct("ckmin", "ckmax", 30), pct("ckmin", "ckmax", 42),
                    F.col("dymin"), F.col("dymax"),
                ),
                box(
                    "dy_band",
                    F.col("ckmin"), F.col("ckmax"),
                    pct("dymin", "dymax", 30), pct("dymin", "dymax", 42),
                ),
                box(
                    "box_small",
                    pct("ckmin", "ckmax", 50), pct("ckmin", "ckmax", 62),
                    pct("dymin", "dymax", 50), pct("dymin", "dymax", 62),
                ),
                box(
                    "box_wide",
                    pct("ckmin", "ckmax", 20), pct("ckmin", "ckmax", 60),
                    pct("dymin", "dymax", 20), pct("dymin", "dymax", 60),
                ),
            )
        ).alias("p")
    ).select("p.*")
    return (
        files.crossJoin(F.broadcast(probes))
        .filter(
            (F.col("max_ck") >= F.col("lo_ck"))
            & (F.col("min_ck") <= F.col("hi_ck"))
            & (F.col("max_dy") >= F.col("lo_dy"))
            & (F.col("min_dy") <= F.col("hi_dy"))
        )
        .groupBy("layout", "probe")
        .agg(
            F.count("*").alias("files_read"),
            F.sum("n").alias("rows_read"),
        )
        .orderBy("layout", "probe")
    )


def _rank_sql(col: str, vmin: str, vmax: str, bits: int) -> str:
    max_rank = (1 << bits) - 1
    return (
        f"CASE WHEN {vmax} > {vmin} THEN CAST(floor((CAST({col} AS DOUBLE) - "
        f"{vmin}) / ({vmax} - {vmin}) * {max_rank}) AS BIGINT) ELSE 0 END"
    )


def _interleave_sql(rx: str, ry: str, bits: int) -> str:
    terms = []
    for b in range(bits):
        terms.append(f"((({rx} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({ry} >> {b}) & 1) << {2 * b + 1})")
    return " | ".join(terms)


_ZORDER_SQL = f"""
WITH o AS (
  SELECT o_orderkey, o_custkey AS ck,
         CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
              AS BIGINT) AS dy
  FROM orders
),
st AS (
  SELECT CAST(min(ck) AS DOUBLE) AS ckmin_d, CAST(max(ck) AS DOUBLE) AS ckmax_d,
         CAST(min(dy) AS DOUBLE) AS dymin_d, CAST(max(dy) AS DOUBLE) AS dymax_d,
         min(ck) AS ckmin, max(ck) AS ckmax,
         min(dy) AS dymin, max(dy) AS dymax
  FROM o
),
keyed AS (
  SELECT o.*, {_interleave_sql(_rank_sql('ck', 'ckmin_d', 'ckmax_d', _ZB),
                               _rank_sql('dy', 'dymin_d', 'dymax_d', _ZB),
                               _ZB)} AS z
  FROM o, st
),
assigned AS (
  SELECT 'linear' AS layout,
         ntile({_NFILES}) OVER (ORDER BY ck, dy, o_orderkey) AS file_id,
         ck, dy
  FROM keyed
  UNION ALL
  SELECT 'zorder' AS layout,
         ntile({_NFILES}) OVER (ORDER BY z, o_orderkey) AS file_id,
         ck, dy
  FROM keyed
),
files AS (
  SELECT layout, file_id, min(ck) AS min_ck, max(ck) AS max_ck,
         min(dy) AS min_dy, max(dy) AS max_dy, count(*) AS n
  FROM assigned GROUP BY layout, file_id
),
probes AS (
  SELECT 'ck_band' AS probe,
         ckmin + (ckmax - ckmin) * 30 // 100 AS lo_ck,
         ckmin + (ckmax - ckmin) * 42 // 100 AS hi_ck,
         dymin AS lo_dy, dymax AS hi_dy FROM st
  UNION ALL
  SELECT 'dy_band', ckmin, ckmax,
         dymin + (dymax - dymin) * 30 // 100,
         dymin + (dymax - dymin) * 42 // 100 FROM st
  UNION ALL
  SELECT 'box_small',
         ckmin + (ckmax - ckmin) * 50 // 100,
         ckmin + (ckmax - ckmin) * 62 // 100,
         dymin + (dymax - dymin) * 50 // 100,
         dymin + (dymax - dymin) * 62 // 100 FROM st
  UNION ALL
  SELECT 'box_wide',
         ckmin + (ckmax - ckmin) * 20 // 100,
         ckmin + (ckmax - ckmin) * 60 // 100,
         dymin + (dymax - dymin) * 20 // 100,
         dymin + (dymax - dymin) * 60 // 100 FROM st
)
SELECT f.layout, p.probe,
       CAST(count(*) AS BIGINT) AS files_read,
       CAST(sum(f.n) AS BIGINT) AS rows_read
FROM files f JOIN probes p
  ON f.max_ck >= p.lo_ck AND f.min_ck <= p.hi_ck
 AND f.max_dy >= p.lo_dy AND f.min_dy <= p.hi_dy
GROUP BY f.layout, p.probe
ORDER BY f.layout, p.probe
"""


# ---------------------------------------------------------------------------
# layout_bucketed_join_stats — the co-located bucketed join: lineitem
# and orders are laid out as bucketed tables (8 buckets on the join
# key, sorted within buckets — what parquet + the session catalog
# persist as bucket spec metadata), then joined WITHOUT any shuffle:
# Catalyst sees matching bucket specs on both sides and plans a
# SortMergeJoin whose children are bare bucketed scans (zero Exchange
# in the join subtree — pinned by tests/test_plans.py). This is the
# biggest single lever for repeated fact-fact joins at 100 TB: the
# layout cost is paid once at write time and every subsequent join on
# the key skips the full-data shuffle. The oracle is the plain join
# SQL — the layout must be result-invisible.
#
# Revenue is summed on the exact 1e-4 grid (price has 2 decimals,
# discount 2 -> the product lives on a 4-decimal grid) as a BIGINT, so
# no float-tie hazard at any sf. The result aggregate (3 rows) is
# localCheckpoint-materialized before the temp tables are dropped.
# ---------------------------------------------------------------------------

_BUCKETS = 8


def layout_bucketed_join_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from etl_ml_pipeline_spark.queries.timeseries import _replay_ckpt_root

    from etl_ml_pipeline_spark import plugins  # noqa: F401 — registers sinks
    from etl_ml_pipeline_spark.registry import SINKS

    run = uuid.uuid4().hex[:12]
    root = f"{_replay_ckpt_root()}/bucketed_{run}"
    li_tab, ord_tab = f"li_bkt_{run}", f"ord_bkt_{run}"
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_quantity",
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0
        )
        .cast("long")
        .alias("rev_e4"),
    )
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    sink = SINKS.get("bucketed_table")
    with sink(
        spark,
        {"table": li_tab, "buckets": _BUCKETS, "bucket_cols": ["l_orderkey"],
         "path": f"{root}/{li_tab}"},
    ) as s:
        s.load(li)
    with sink(
        spark,
        {"table": ord_tab, "buckets": _BUCKETS, "bucket_cols": ["o_orderkey"],
         "path": f"{root}/{ord_tab}"},
    ) as s:
        s.load(orders)
    try:
        joined = spark.table(li_tab).join(
            spark.table(ord_tab),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        out = (
            joined.groupBy("o_orderstatus")
            .agg(
                F.count("*").cast("long").alias("n_items"),
                F.sum("l_quantity").cast("long").alias("sum_qty"),
                F.sum("rev_e4").cast("long").alias("revenue_e4"),
            )
            .orderBy("o_orderstatus")
            .localCheckpoint(eager=True)  # materialize BEFORE table drop
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {li_tab}")
        spark.sql(f"DROP TABLE IF EXISTS {ord_tab}")
    return out


_BUCKETED_JOIN_SQL = """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0)
                AS BIGINT)) AS BIGINT) AS revenue_e4
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# layout_compaction_plan — small-file compaction planning (the OPTIMIZE
# / bin-packing maintenance pass every lakehouse table needs): treat
# each document as a data file (size = n_chars), walk files in id
# order, and cut output bins at a target size via the cumulative size
# — bin = floor(exclusive-prefix-sum / target), the same adjacent
# bin-packing Delta's OPTIMIZE performs. The plan output (files,
# bytes, id span per bin) is what a table service would hand to the
# rewrite jobs.
# Scale: rides grouped_running_sum's two-phase prefix sum over no groups
# (range repartition by arithmetic buckets + local cumsum windows +
# broadcast offsets) with covering bounds from the raw scan — planning over
# millions of file-manifest rows is a metadata-scale Spark job, never
# a single-task sort. Exact: sizes are longs.
# ---------------------------------------------------------------------------

_COMPACT_TARGET = 25_000  # target output size (chars stand in for bytes)


def layout_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_ml_pipeline_spark.operators.relational import grouped_running_sum

    files = t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("file_id"), F.col("n_chars").alias("bytes")
    )
    bounds = files.agg(
        F.min(F.col("file_id").cast("double")).alias("__lo"),
        F.max(F.col("file_id").cast("double")).alias("__hi"),
    )
    cum = grouped_running_sum(
        files, "bytes", [], ["file_id"], "cum_bytes", bounds_df=bounds
    )
    binned = cum.withColumn(
        "bin",
        F.floor((F.col("cum_bytes") - F.col("bytes")) / _COMPACT_TARGET).cast(
            "long"
        ),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").alias("n_files"),
            F.sum("bytes").alias("bin_bytes"),
            F.min("file_id").alias("first_file"),
            F.max("file_id").alias("last_file"),
        )
        .orderBy("bin")
    )


_COMPACTION_SQL = f"""
WITH cum AS (
  SELECT doc_id AS file_id, n_chars AS bytes,
         sum(n_chars) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_bytes
  FROM documents
)
SELECT CAST(floor((cum_bytes - bytes) / {_COMPACT_TARGET}) AS BIGINT) AS bin,
       count(*) AS n_files,
       CAST(sum(bytes) AS BIGINT) AS bin_bytes,
       min(file_id) AS first_file,
       max(file_id) AS last_file
FROM cum
GROUP BY 1
ORDER BY bin
"""


QUERIES = {
    "bloom_prune_brand_revenue": bloom_prune_brand_revenue,
    "layout_zorder_prune_stats": layout_zorder_prune_stats,
    "layout_bucketed_join_stats": layout_bucketed_join_stats,
    "layout_compaction_plan": layout_compaction_plan,
}

ORACLES = {
    "bloom_prune_brand_revenue": _BLOOM_BRAND_SQL,
    "layout_zorder_prune_stats": _ZORDER_SQL,
    "layout_bucketed_join_stats": _BUCKETED_JOIN_SQL,
    "layout_compaction_plan": _COMPACTION_SQL,
}
